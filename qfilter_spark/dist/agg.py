"""Partial/final sketch aggregation over Spark DataFrames.

This hand-rolls Spark's own partial -> final typed-aggregate split
(SURVEY.md §4.2) with pandas/Arrow UDFs, because the state lives in numpy.
Every path shares one build kernel (:func:`_fold`) and one merge kernel
(:func:`merge_payloads`):

1. **Partial build** — ``mapInArrow`` over the input partitions; each task
   folds its Arrow batches into one local sketch with vectorized numpy
   kernels (no per-row Python, per the input_hint mandate) and emits a
   single (shard_id, n_items, build_secs, payload) row. No shuffle at all
   in this stage: the scan's partitioning is reused as-is, so at 100 TB the
   stage is embarrassingly parallel and bounded by scan throughput.

2. **Tree merge** — iterative ``groupBy(shard_id % groups).applyInPandas``
   rounds while more than ``fan_in`` blobs remain (the reference's merge,
   src/lib.rs:1343-1352, applied as a k-way reduction), then the driver
   collects the last <= fan_in blobs and folds them itself, as RDD
   ``treeReduce`` does its last step — one Spark job and one shuffle round
   of Python tasks fewer per call. Fan-in keeps every reducer's input,
   the driver's included, at <= fan_in small blobs, so no single reducer
   becomes a bottleneck at any scale; each round optionally checkpoints to
   Parquet with per-shard lineage + metrics for resumability (north_rule),
   the driver-merged root included. Only the grouped build
   (:func:`build_grouped_sketches`) is salted.

Merge-order independence: hash sketches (RSQF/Bloom/HLL/CMS) are bit-stable
under any merge order; groups (and the driver's root merge) additionally
sort by shard_id so even the weakly order-dependent quantile sketches are
deterministic run-to-run.
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
            # a NULL tokens row has zero extent in the offsets: an empty
            # document
            flat, offsets = flat_from_arrow(arr)
            return ngram_hashes(flat, offsets, self.ngram_n)
        if self.mode == "values":
            return arr.to_numpy(zero_copy_only=False).astype(np.float64)
        raise ValueError(f"unknown mode {self.mode!r}")

    def update(self, sk, data: np.ndarray) -> int:
        """Fold ``data`` into ``sk``; returns the items absorbed (quantile
        sketches skip NaN, i.e. NULL, as SQL aggregates ignore nulls)."""
        if self.mode == "values":
            sk.update_values(data)
            return int(np.count_nonzero(~np.isnan(data)))
        sk.update_hashes(data)
        return int(data.size)


def _fold(spec: SketchSpec, batches):
    """The build kernel: Arrow batches -> (new sketch, items absorbed)."""
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
    return sk, n


def merge_payloads(payloads, acc=None):
    """The merge kernel: fold serialized sketches, in order, into ``acc``
    (a live sketch, merged in place) or else into the first of them."""
    for payload in payloads:
        sk = sketches.loads(bytes(payload))
        if acc is None:
            acc = sk
        else:
            acc.merge(sk)
    return acc


def partial_sketches(df, spec: SketchSpec):
    """One partial sketch per input partition; returns the partials DataFrame.

    Projects to the single needed column first so Parquet scans read only it
    (column pruning reaches the file scan; verify with .explain).
    """
    import pyarrow as pa
    from pyspark import TaskContext

    def build(batches):
        t0 = time.perf_counter()
        sk, n = _fold(spec, batches)
        pid = TaskContext.get().partitionId()
        yield pa.record_batch(
            [pa.array([pid], pa.int64()), pa.array([n], pa.int64()),
             pa.array([time.perf_counter() - t0], pa.float64()),
             pa.array([sk.to_bytes()], pa.binary())],
            names=["shard_id", "n_items", "build_secs", "payload"])

    return df.select(spec.col).mapInArrow(build, PARTIAL_SCHEMA)


def _merge_round(partials, n_groups: int, schema: str, keys=()):
    """One merge round: per value of ``keys``, the partials fold into
    ``n_groups`` rows, row ``shard_id % n_groups`` taking each partial."""
    import pandas as pd
    from pyspark.sql import functions as F

    # no type hints: PySpark warns on every call when it cannot resolve
    # them, and the hint-free default is the grouped-map pandas eval type
    def merge(key, pdf):
        t0 = time.perf_counter()
        # shard_id is the ORIGINAL id (the round's group travels in "grp"),
        # so this sort gives a deterministic merge order for the weakly
        # order-dependent quantile sketches, run-to-run
        pdf = pdf.sort_values("shard_id")
        acc = merge_payloads(pdf["payload"])
        return pd.DataFrame({
            **{k: [v] for k, v in zip(keys, key)},
            "shard_id": [int(key[-1])],
            "n_items": [int(pdf["n_items"].sum())],
            "build_secs": [float(pdf["build_secs"].sum()) + (time.perf_counter() - t0)],
            "payload": [acc.to_bytes()],
        })

    return (partials
            .withColumn("grp", F.pmod(F.col("shard_id"), F.lit(n_groups)))
            .groupBy(*keys, "grp")
            .applyInPandas(merge, schema))


def _check_fan_in(fan_in: int) -> None:
    # fan_in=1 never shrinks the round count (an endless stream of jobs),
    # and fan_in=0 would fail as a bare ZeroDivisionError
    if fan_in < 2:
        raise ValueError(f"fan_in must be >= 2, got {fan_in!r}")


def tree_merge(partials, fan_in: int = 16, lineage=None, n_partials: int | None = None):
    """Reduce the partials DataFrame to a single sketch blob (bytes).

    Explicit tree: while more than ``fan_in`` blobs remain, each round
    shuffles only small blobs into ``ceil(n / fan_in)`` groups — never a
    single hot reducer. The last <= fan_in blobs are collected and merged
    on the driver in shard_id order, the order a single-group round would
    use, so the driver holds at most ``fan_in`` payloads: the same set the
    final reducer task would hold. With ``lineage`` (a
    :class:`qfilter_spark.dist.checkpoint.MergeLineage`), the partials,
    every round and the driver-merged root are persisted and the reduction
    is resumable (:func:`qfilter_spark.dist.checkpoint.resume_tree_merge`).

    ``n_partials`` is the row count of ``partials`` when the caller knows
    it (one row per input partition). Without it, a checkpointed run counts
    the written round 0; an uncheckpointed one counts ``partials``, which
    runs the partial build once more.
    """
    _check_fan_in(fan_in)
    if lineage is not None:
        # the start of a fresh checkpointed run: record the merge shape so
        # resume can default to the same fan_in
        lineage.record_fan_in(fan_in)
        partials = lineage.write_round(partials, 0)
    n = n_partials if n_partials is not None else partials.count()
    return _reduce_rounds(partials, n, fan_in, lineage, 0)


def _reduce_rounds(current, n: int, fan_in: int, lineage, rnd: int) -> bytes:
    """Merge rounds after round ``rnd`` (``current``, ``n`` rows) down to one
    blob, numbered on from ``rnd`` as in the checkpoint directory."""
    while n > fan_in:
        rnd += 1
        n = math.ceil(n / fan_in)
        current = _merge_round(current, n, PARTIAL_SCHEMA)
        if lineage is not None:
            current = lineage.write_round(current, rnd)
    rows = current.collect()
    if not rows:
        raise ValueError("tree_merge: empty partials")
    if len(rows) > n:
        # an under-counted n_partials ends the Spark rounds early: the
        # driver would hold more than the planned roots, or, with a single
        # planned root, return one shard and drop the others' contents
        raise ValueError(
            f"tree_merge: {len(rows)} roots remain after the final round, "
            f"{n} planned — n_partials under-counts the partials DataFrame")
    if len(rows) == 1:
        return bytes(rows[0]["payload"])
    t0 = time.perf_counter()
    rows.sort(key=lambda r: r["shard_id"])
    root = merge_payloads(r["payload"] for r in rows).to_bytes()
    if lineage is not None:
        lineage.commit_root(
            rnd + 1, sum(r["n_items"] for r in rows),
            sum(r["build_secs"] for r in rows) + (time.perf_counter() - t0),
            root)
    return root


def build_sketch(df, spec: SketchSpec, fan_in: int = 16, lineage=None) -> bytes:
    """End-to-end: partial build -> tree merge -> final sketch blob."""
    _check_fan_in(fan_in)  # before df.rdd, which can run the input's shuffles
    parts = partial_sketches(df, spec)
    n = df.rdd.getNumPartitions()
    return tree_merge(parts, fan_in=fan_in, lineage=lineage, n_partials=n)


def build_grouped_sketches(df, group_col: str, spec: SketchSpec,
                           n_salts: int = 8):
    """One sketch per value of ``group_col``, with salted skew mitigation.

    Round 1 folds each (group, salt) so a hot group (e.g. a source that
    is 50% of all rows) fans out over ``n_salts`` reducers instead of one;
    round 2, the tree merge's round keyed by group, merges the salts
    (carried as ``shard_id``) away. Returns a DataFrame
    (group_col, n_items, build_secs, payload), group_col in its own type.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts!r}")
    schema = f"{group_col} {df.schema[group_col].dataType.simpleString()}, {PARTIAL_SCHEMA}"

    # no type hints: grouped-map arrow eval-type inference requires hints on
    # EVERY parameter (including the key tuple) and the hint-free fallback
    # is the grouped-map arrow eval type we want
    def build_salted(key, tbl):
        # Arrow-native (applyInArrow): tokens stay a flat values+offsets
        # buffer for the vectorized ngram kernel
        t0 = time.perf_counter()
        # one batch: quantile-sketch bytes must not follow Arrow's cuts
        sk, n = _fold(spec, tbl.combine_chunks().to_batches())
        return pa.table({
            group_col: tbl.column(group_col).slice(0, 1),
            "shard_id": pa.array([key[1].as_py()], pa.int64()),
            "n_items": pa.array([n], pa.int64()),
            "build_secs": pa.array([time.perf_counter() - t0], pa.float64()),
            "payload": pa.array([sk.to_bytes()], pa.binary()),
        })

    salted = (df
              .select(group_col, spec.col)
              .withColumn("shard_id", F.pmod(F.spark_partition_id(), F.lit(n_salts)))
              .groupBy(group_col, "shard_id")
              .applyInArrow(build_salted, schema))
    return _merge_round(salted, 1, schema, (group_col,)).drop("shard_id")
