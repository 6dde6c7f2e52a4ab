"""Partial/final sketch aggregation over Spark DataFrames.

This hand-rolls Spark's own partial -> final typed-aggregate split
(SURVEY.md §4.2) with pandas/Arrow UDFs, because the state lives in numpy.
Every path shares one build kernel (:func:`_fold`) and one merge kernel
(:func:`merge_payloads`):

1. **Partial build** — ``mapInArrow`` over the input, one partial per
   sized task; each task folds its Arrow batches into one local sketch
   with vectorized numpy kernels (no per-row Python, per the input_hint
   mandate) and emits a single (shard_id, n_items, build_secs, payload)
   row. No shuffle at all in this stage: a small input is coalesced to
   AQE's target task size (:func:`qfilter_spark.dist.sizing.sized_input`,
   a narrow ``coalesce``), and otherwise the scan's partitioning is reused
   as-is, so at 100 TB the stage is embarrassingly parallel and bounded
   by scan throughput. The grouped build (:func:`build_grouped_sketches`)
   is the keyed case: each task sorts its rows by the group column and
   emits one partial per group it holds.

2. **Tree merge** — iterative ``groupBy(shard_id % groups).applyInPandas``
   rounds while more than ``fan_in`` blobs remain (the reference's merge,
   src/lib.rs:1343-1352, applied as a k-way reduction), then the driver
   collects the last <= fan_in blobs and folds them itself, as RDD
   ``treeReduce`` does its last step — one Spark job and one shuffle round
   of Python tasks fewer per call. Fan-in keeps every reducer's input,
   the driver's included, at <= fan_in small blobs, so no single reducer
   becomes a bottleneck at any scale; each round optionally checkpoints to
   Parquet with per-shard lineage + metrics for resumability (north_rule);
   the driver commits the root, and a round 0 of at most fan_in counted
   partials, from the rows it collects. The grouped build runs the same
   rounds keyed by group, and its last round merges each group to one row.

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
from .sizing import sized_input

PARTIAL_SCHEMA = "shard_id long, n_items long, build_secs double, payload binary"
# the merge round's group column and the partial columns
_RESERVED = ("grp", "shard_id", "n_items", "build_secs", "payload")
_MODES = ("hash_col", "tokens_ngram", "values")


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

    def __post_init__(self):
        if self.mode not in _MODES:
            raise ValueError(f"unknown mode {self.mode!r}; known modes: "
                             f"{', '.join(_MODES)}")

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


# per-task wave of extracted values (~128 MB of hashes) for the RSQF bulk
# update and the sharded emitter; read on the driver when a plan is built
_MAX_BUFFER = 16_000_000


def _waves(spec: SketchSpec, batches, limit: int):
    """``spec.extract`` of the non-empty batches, concatenated into waves of
    at least ``limit`` values (the last one may hold fewer); a ``limit`` of
    0 yields each batch's array as it comes."""
    bufs: list[np.ndarray] = []
    buffered = 0
    for batch in batches:
        if batch.num_rows:
            bufs.append(spec.extract(batch))
            buffered += bufs[-1].size
            if buffered >= limit:
                yield np.concatenate(bufs) if limit else bufs[0]
                bufs, buffered = [], 0
    if buffered:
        yield np.concatenate(bufs)


def _fold(spec: SketchSpec, batches, limit: int):
    """The build kernel: Arrow batches -> (new sketch, items absorbed)."""
    sk = spec.make()
    # RSQF keeps a SORTED multiset: feeding it per Arrow batch re-sorts
    # the whole accumulated array once per batch (O(batches * n log n)
    # across a task — measured 2.3 s for a 600k-row single-partition
    # build at the 2048-row batch size). It folds waves of ``limit``
    # hashes in bounded bulk updates instead — identical final multiset
    # (insert_hashes is sequential-equivalent and calls compose). Other
    # sketch kinds (HLL/CMS/KLL/t-digest/Bloom) absorb batches in
    # O(batch) already, so they take each batch's array as it comes.
    bulk = limit if isinstance(sk, sketches.RsqfSketch) else 0
    return sk, sum(spec.update(sk, data) for data in _waves(spec, batches, bulk))


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


def partial_sketches(df, spec: SketchSpec, _key: str | None = None):
    """One partial sketch per sized task; returns the partials DataFrame.

    Projects to the single needed column first so Parquet scans read only it
    (column pruning reaches the file scan; verify with .explain), then sizes
    the tasks with :func:`~qfilter_spark.dist.sizing.sized_input`: one per
    input partition, or fewer when the input is smaller than AQE's target
    partition size.

    With ``_key`` (the grouped build), each task sorts its rows by that
    column (no Exchange) and emits one partial per run of equal keys,
    holding one live sketch at a time; a task without rows emits nothing.
    """
    import pyarrow as pa
    from pyspark import TaskContext

    limit = _MAX_BUFFER  # read here, on the driver

    def build(batches):
        pid = pa.array([TaskContext.get().partitionId()], pa.int64())
        for key, run in _runs(batches, _key) if _key else [({}, batches)]:
            t0 = time.perf_counter()
            sk, n = _fold(spec, run, limit)
            yield pa.record_batch({
                **key, "shard_id": pid, "n_items": pa.array([n], pa.int64()),
                "build_secs": pa.array([time.perf_counter() - t0], pa.float64()),
                "payload": pa.array([sk.to_bytes()], pa.binary())})

    if _key is None:
        return sized_input(df.select(spec.col)).mapInArrow(build, PARTIAL_SCHEMA)
    schema = f"{_key} {df.schema[_key].dataType.simpleString()}, {PARTIAL_SCHEMA}"
    return (sized_input(df.select(_key, spec.col)).sortWithinPartitions(_key)
            .mapInArrow(build, schema))


def _runs(batches, key: str):
    """Key-sorted Arrow batches -> ({key: 1-row key column}, row slices)
    per run of equal keys, joined across batch edges."""
    import itertools

    import pyarrow.compute as pc

    def slices():
        for batch in batches:
            col, start = batch.column(key), 0
            for end in pc.run_end_encode(col).run_ends.to_pylist():
                yield col[start].as_py(), batch.slice(start, end - start)
                start = end

    for _, run in itertools.groupby(slices(), key=lambda s: s[0]):
        first = next(run)[1]
        yield ({key: first.column(key).slice(0, 1)},
               itertools.chain([first], (part for _, part in run)))


def _merge_round(partials, n_groups: int, schema, keys=()):
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
    it (one row per sized task of :func:`partial_sketches`). Without it, a
    checkpointed run counts the written round 0; an uncheckpointed one
    counts ``partials``, which runs the partial build once more. A
    checkpointed run of ``n_partials <= fan_in`` writes nothing with Spark:
    the driver collects the partials once and commits them as round 0.
    """
    _check_fan_in(fan_in)
    by_driver = (lineage is not None and n_partials is not None
                 and n_partials <= fan_in)  # the driver commits round 0
    if lineage is not None:
        # a fresh checkpointed run records its merge shape for resume and
        # drops the previous run's rounds before any of its jobs can die
        lineage.record_fan_in(fan_in)
        lineage.drop_rounds(0)
        if not by_driver:
            partials = lineage.write_round(partials, 0)
    n = n_partials if n_partials is not None else partials.count()
    return _reduce_rounds(partials, n, fan_in, lineage, 0, by_driver)


def _tree_rounds(current, n: int, fan_in: int, schema=PARTIAL_SCHEMA,
                 keys=(), lineage=None, rnd: int = 0):
    """Spark merge rounds after round ``rnd`` while more than ``fan_in``
    partials (``n`` per value of ``keys``) remain; returns the last round,
    its row count per key and its number, as in the checkpoint directory."""
    while n > fan_in:
        rnd += 1
        n = math.ceil(n / fan_in)
        current = _merge_round(current, n, schema, keys)
        if lineage is not None:
            current = lineage.write_round(current, rnd)
    return current, n, rnd


def _reduce_rounds(current, n: int, fan_in: int, lineage, rnd: int,
                   commit: bool = False) -> bytes:
    """Merge rounds after round ``rnd`` (``current``, ``n`` rows) down to one
    blob, numbered on from ``rnd`` as in the checkpoint directory; with
    ``commit``, the driver commits round ``rnd`` from the rows it collects."""
    current, n, rnd = _tree_rounds(current, n, fan_in, lineage=lineage, rnd=rnd)
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
    if commit:
        lineage.commit_round(rnd, rows)
    if len(rows) == 1:
        return bytes(rows[0]["payload"])
    t0 = time.perf_counter()
    rows.sort(key=lambda r: r["shard_id"])
    root = merge_payloads(r["payload"] for r in rows).to_bytes()
    if lineage is not None:
        lineage.commit_round(rnd + 1, [dict(
            shard_id=0, n_items=sum(r["n_items"] for r in rows),
            build_secs=sum(r["build_secs"] for r in rows)
            + (time.perf_counter() - t0), payload=root)])
    return root


def build_sketch(df, spec: SketchSpec, fan_in: int = 16, lineage=None) -> bytes:
    """End-to-end: partial build -> tree merge -> final sketch blob."""
    _check_fan_in(fan_in)  # before .rdd, which can run the input's shuffles
    parts = partial_sketches(df, spec)
    n = parts.rdd.getNumPartitions()  # one partial per sized task
    return tree_merge(parts, fan_in=fan_in, lineage=lineage, n_partials=n)


def build_grouped_sketches(df, group_col: str, spec: SketchSpec):
    """One sketch per value of ``group_col``; returns a DataFrame
    (group_col, n_items, build_secs, payload), group_col in its own type.

    Each sized input task folds its rows per group (the keyed
    :func:`partial_sketches`), so raw rows are never shuffled and a hot
    group (e.g. a source that is 50% of all rows) is spread over every
    input task without a salt. The tree merge's keyed rounds then merge at
    most ``fan_in`` = 16 partials of a group per reducer, down to one row
    per group; a 1-task input needs no merge round at all.
    """
    if group_col in _RESERVED:
        raise ValueError(f"group column {group_col!r} is reserved by the "
                         f"grouped build ({', '.join(_RESERVED)}); rename it")
    parts = partial_sketches(df, spec, _key=group_col)
    n = parts.rdd.getNumPartitions()  # at most one partial per task and group
    if n > 1:  # 16: tree_merge's default fan_in
        keys = (group_col,)
        current, _, _ = _tree_rounds(parts, n, 16, parts.schema, keys)
        parts = _merge_round(current, 1, parts.schema, keys)
    return parts.drop("shard_id")
