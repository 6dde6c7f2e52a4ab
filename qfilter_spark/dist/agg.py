"""Partial/final sketch aggregation over Spark DataFrames.

This hand-rolls Spark's own partial -> final typed-aggregate split
(SURVEY.md §4.2) with pandas/Arrow UDFs, because the state lives in numpy:

1. **Partial build** — ``mapInArrow`` over the input partitions; each task
   folds its Arrow batches into one local sketch with vectorized numpy
   kernels (no per-row Python, per the input_hint mandate) and emits a
   single (shard_id, n_items, build_secs, payload) row. No shuffle at all
   in this stage: the scan's partitioning is reused as-is, so at 100 TB the
   stage is embarrassingly parallel and bounded by scan throughput.

2. **Tree merge** — iterative ``groupBy(shard % fan_in).applyInPandas``
   rounds until one sketch remains (the reference's merge,
   src/lib.rs:1343-1352, applied as a k-way reduction). Fan-in keeps every
   reducer's input at <= fan_in small blobs, so no single reducer becomes a
   bottleneck at any scale; each round optionally checkpoints to Parquet
   with per-shard lineage + metrics for resumability (north_rule).

Merge-order independence: hash sketches (RSQF/Bloom/HLL/CMS) are bit-stable
under any merge order; groups additionally sort by shard_id so even the
weakly order-dependent quantile sketches are deterministic run-to-run.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np

from .. import sketches
from ..functions.ngrams import flat_from_arrow, ngram_hashes
from ..hashing import u64_hashes_from_arrow

PARTIAL_SCHEMA = "shard_id long, n_items long, build_secs double, payload binary"


@dataclass
class SketchSpec:
    """What to sketch and how.

    mode:
      - ``hash_col``: ``col`` is an int64 column of prehashed values
        (produce it with ``F.xxhash64(c.cast('long'))`` / ``F.xxhash64(str_c)``
        — bit-identical to the numpy kernels, see qfilter_spark.hashing).
      - ``tokens_ngram``: ``col`` is array<int32/int64>; every ``ngram_n``-gram
        is hashed with the Spark-compatible XXH64 chain.
      - ``values``: ``col`` is numeric; fed to quantile sketches as float64.
    """

    kind: str                     # rsqf | bloom | hll | cms | kll | tdigest
    params: dict = field(default_factory=dict)
    mode: str = "hash_col"
    col: str = "__h"
    ngram_n: int = 3

    def make(self):
        return sketches.create(self.kind, **self.params)

    def extract(self, batch) -> np.ndarray:
        """Arrow RecordBatch -> update array (uint64 hashes or float64)."""
        arr = batch.column(self.col)
        if self.mode == "hash_col":
            return u64_hashes_from_arrow(arr, f"column {self.col!r}")
        if self.mode == "tokens_ngram":
            flat, offsets = flat_from_arrow(arr)
            return ngram_hashes(flat, offsets, self.ngram_n)
        if self.mode == "values":
            return arr.to_numpy(zero_copy_only=False).astype(np.float64)
        raise ValueError(f"unknown mode {self.mode!r}")

    def update(self, sk, data: np.ndarray) -> int:
        if self.mode == "values":
            sk.update_values(data)
        else:
            sk.update_hashes(data)
        return int(data.size)


def partial_sketches(df, spec: SketchSpec):
    """One partial sketch per input partition; returns the partials DataFrame.

    Projects to the single needed column first so Parquet scans read only it
    (column pruning reaches the file scan; verify with .explain).
    """
    import pyarrow as pa
    from pyspark import TaskContext

    pruned = df.select(spec.col)

    def build(batches):
        t0 = time.perf_counter()
        sk = spec.make()
        n = 0
        # RSQF keeps a SORTED multiset: feeding it per Arrow batch re-sorts
        # the whole accumulated array once per batch (O(batches * n log n)
        # across a task — measured 2.3 s for a 600k-row single-partition
        # build at the 2048-row batch size). Buffer the extracted hash
        # chunks and fold them in bounded bulk updates instead — identical
        # final multiset (insert_hashes is sequential-equivalent and calls
        # compose), one sort per ~16M hashes. Other sketch kinds
        # (HLL/CMS/KLL/t-digest/Bloom) absorb batches in O(batch) already.
        bulk = isinstance(sk, sketches.RsqfSketch)
        bufs: list[np.ndarray] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows:
                data = spec.extract(batch)
                if not bulk:
                    n += spec.update(sk, data)
                elif data.size:
                    bufs.append(data)
                    buffered += data.size
                    if buffered >= 16_000_000:
                        n += spec.update(sk, np.concatenate(bufs))
                        bufs, buffered = [], 0
        if bufs:
            n += spec.update(sk, np.concatenate(bufs))
        pid = TaskContext.get().partitionId()
        yield pa.record_batch(
            [pa.array([pid], pa.int64()), pa.array([n], pa.int64()),
             pa.array([time.perf_counter() - t0], pa.float64()),
             pa.array([sk.to_bytes()], pa.binary())],
            names=["shard_id", "n_items", "build_secs", "payload"])

    return pruned.mapInArrow(build, PARTIAL_SCHEMA)


def _merge_group_fn(spec_unused=None):
    import pandas as pd

    def merge_group(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        t0 = time.perf_counter()
        # shard_id is the ORIGINAL id (the group key travels in "grp"), so
        # this sort gives a deterministic merge order for the weakly
        # order-dependent quantile sketches, run-to-run
        pdf = pdf.sort_values("shard_id")
        acc = None
        for payload in pdf["payload"]:
            sk = sketches.loads(bytes(payload))
            if acc is None:
                acc = sk
            else:
                acc.merge(sk)
        return pd.DataFrame({
            "shard_id": [int(key[0])],
            "n_items": [int(pdf["n_items"].sum())],
            "build_secs": [float(pdf["build_secs"].sum()) + (time.perf_counter() - t0)],
            "payload": [acc.to_bytes()],
        })

    return merge_group


def tree_merge(partials, fan_in: int = 16, lineage=None, n_partials: int | None = None,
               write_initial: bool = True, round_offset: int = 0):
    """Reduce the partials DataFrame to a single sketch blob (bytes).

    Explicit tree: each round shuffles only small blobs into
    ``ceil(n / fan_in)`` groups — never a single hot reducer until the last
    round, which merges <= fan_in blobs. With ``lineage`` (a
    :class:`qfilter_spark.dist.checkpoint.MergeLineage`), every round is
    persisted and the reduction is resumable; ``round_offset`` shifts the
    on-disk round numbering when continuing an interrupted run (resume
    passes the last complete round), keeping one consistent numbering
    between this loop and the checkpoint directory.
    """
    from pyspark.sql import functions as F

    current = partials
    n = n_partials if n_partials is not None else current.count()
    rnd = round_offset
    if lineage is not None:
        if write_initial:
            # the start of a fresh checkpointed run: record the merge
            # shape so resume can default to the same fan_in
            if hasattr(lineage, "record_fan_in"):
                lineage.record_fan_in(fan_in)
            current = lineage.write_round(current, rnd)
    merge_fn = _merge_group_fn()
    while n > 1:
        rnd += 1
        n_groups = max(1, math.ceil(n / fan_in))
        current = (current
                   .withColumn("grp", F.pmod(F.col("shard_id"), F.lit(n_groups)))
                   .groupBy("grp")
                   .applyInPandas(merge_fn, PARTIAL_SCHEMA))
        if lineage is not None:
            current = lineage.write_round(current, rnd)
        n = n_groups
    rows = current.collect()
    if not rows:
        raise ValueError("tree_merge: empty partials")
    if len(rows) > 1:
        # an under-counted n_partials would end the loop with several
        # roots; returning rows[0] would silently drop the other shards'
        # contents from the final sketch
        raise ValueError(
            f"tree_merge: {len(rows)} roots remain after the final round "
            "— n_partials under-counts the partials DataFrame")
    return bytes(rows[0]["payload"])


def build_sketch(df, spec: SketchSpec, fan_in: int = 16, lineage=None) -> bytes:
    """End-to-end: partial build -> tree merge -> final sketch blob."""
    parts = partial_sketches(df, spec)
    n = df.rdd.getNumPartitions()
    return tree_merge(parts, fan_in=fan_in, lineage=lineage, n_partials=n)


def build_grouped_sketches(df, group_col: str, spec: SketchSpec,
                           n_salts: int = 8):
    """One sketch per value of ``group_col``, with salted skew mitigation.

    Round 1 aggregates by (group, salt) so a hot group (e.g. a source that
    is 50% of all rows) fans out over ``n_salts`` reducers instead of one;
    round 2 merges the salts away. Returns a DataFrame
    (group_col, n_items, build_secs, payload).
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import functions as F

    out_schema = f"{group_col} string, n_items long, build_secs double, payload binary"
    salted_schema = f"{group_col} string, salt int, n_items long, build_secs double, payload binary"

    # no type hints: grouped-map arrow eval-type inference requires hints on
    # EVERY parameter (including the key tuple) and the hint-free fallback
    # is the grouped-map arrow eval type we want
    def build_salted(key, tbl):
        # Arrow-native (applyInArrow): tokens stay a flat values+offsets
        # buffer for the vectorized ngram kernel — the pandas variant
        # re-boxed every row's token array through Python
        t0 = time.perf_counter()
        sk = spec.make()
        col = tbl.column(spec.col)
        if spec.mode == "values":
            # NULL -> NaN here is correct: the quantile sketches filter NaN,
            # matching SQL aggregates' ignore-nulls semantics. n_items must
            # count what the sketch actually absorbed, so NaN rows are
            # excluded — the hash/ngram modes likewise never inflate the
            # count with refused/empty rows (ADVICE r5)
            data = col.to_numpy(zero_copy_only=False).astype(np.float64)
            sk.update_values(data)
            data = data[~np.isnan(data)]
        elif spec.mode == "hash_col":
            data = u64_hashes_from_arrow(col, "grouped sketch build")
            sk.update_hashes(data)
        else:
            # a NULL tokens row has zero extent in flat_from_arrow's
            # offsets: an empty document
            flat, offsets = flat_from_arrow(col)
            data = ngram_hashes(flat, offsets, spec.ngram_n)
            sk.update_hashes(data)
        return pa.table({
            group_col: pa.array([key[0].as_py()], pa.string()),
            "salt": pa.array([int(key[1].as_py())], pa.int32()),
            "n_items": pa.array([int(data.size)], pa.int64()),
            "build_secs": pa.array([time.perf_counter() - t0], pa.float64()),
            "payload": pa.array([sk.to_bytes()], pa.binary()),
        })

    def merge_salts(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        t0 = time.perf_counter()
        pdf = pdf.sort_values("salt")
        acc = None
        for payload in pdf["payload"]:
            sk = sketches.loads(bytes(payload))
            acc = sk if acc is None else (acc.merge(sk) or acc)
        return pd.DataFrame({
            group_col: [key[0]], "n_items": [int(pdf["n_items"].sum())],
            "build_secs": [float(pdf["build_secs"].sum()) + (time.perf_counter() - t0)],
            "payload": [acc.to_bytes()],
        })

    salted = (df
              .select(group_col, spec.col)
              .withColumn("salt", F.pmod(F.spark_partition_id(), F.lit(n_salts)))
              .groupBy(group_col, "salt")
              .applyInArrow(build_salted, salted_schema))
    return salted.groupBy(group_col).applyInPandas(merge_salts, out_schema)
