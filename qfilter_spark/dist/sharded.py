"""Range-sharded distributed RSQF: the 100 TB-scale filter layout.

A quotient filter over 10^12 keys at 1% FPR holds ~12 bits/key — terabytes
of state: it cannot live in one blob on one node. But the reference's
structure shards *naturally by quotient prefix*: fingerprints are
(quotient << rbits) | remainder, and the physical layout is ordered by
quotient (src/lib.rs:1304-1309), so splitting the fingerprint domain into
2^k contiguous ranges gives 2^k independent filters whose union is exactly
the single big filter — same answers, bit-for-bit (tested against the
single-blob path).

Routing: a :class:`ShardDirectory` maps the fingerprint domain onto table
rows; row ``i`` owns [starts[i], starts[i+1]) inside one shard. The
fixed-prefix table is the uniform directory — one row per shard, starting
at ``shard << (fs-k)``, row key == shard id — and is stored as
(shard, n_fps, payload). The skew-resistant build
(:func:`build_sharded_filter_split`) plans a directory that cuts hot
shards into several rows, then runs the ordinary build over it; only a
table with more rows than shards carries the extra ``key`` column
(key, shard, n_fps, payload). Every operation takes ``n_shards`` as an int
(the uniform directory) or as a ShardDirectory.

Build / insert: one ``mapInArrow`` pass emits per-(wave, row) sorted
fingerprint chunks; one grouped merge per row key (k-way timsort of sorted
runs) writes each row's blob, and an insert co-groups the chunks with the
existing rows. A build whose sized emit stage is one task
(:func:`sizing.sized_tasks`) skips the shuffle: that task keeps each row's
runs across its waves and writes every row's blob through the same per-row
merge kernel, so the plan is scan, ``Coalesce 1``, ``MapInArrow``. The
filter then LIVES as a Parquet table — the checkpointed lineage IS the
data.

Remove: retraction hashes travel as the same sorted chunks, co-grouped
with their row (``cogroup.applyInArrow``) — a co-partitioned join; each
task touches exactly one row's state, with no driver blob and no single
reducer at any scale. Insert and remove rewrite every row they reach, so
they always take this plan.

Probe / count: the plan is picked the way Spark picks a broadcast join.
When the table's optimized-plan ``sizeInBytes`` is at most
``spark.sql.autoBroadcastJoinThreshold``, its (key, payload) rows are
collected once and broadcast with the directory as the probe module's
``_Table`` — the table a single sketch blob is the one-row case of — which
decodes a row the first time a worker's probe reaches it and keeps it while
the broadcast lives; one map stage answers the probes (the emit stage for
:func:`probe_sharded_chunks`, each task summing its waves' counts per row
key, and a JVM ``groupBy`` summing the per-task rows only when the stage
has more than one task or an unknown count; :func:`probe.probe_hashes`'s
per-row map for :func:`count_sharded`). Otherwise — a larger table, a
threshold of ``-1``, or a table whose size Spark does not know, which is
never collected — probe chunks are co-grouped with their row like a
remove, and :func:`count_sharded` shuffles single probe rows to their
shard. Every plan asks each row's sketch through its own
``contains_hashes`` / ``count_hashes``.
"""

from __future__ import annotations

import numpy as np

from .. import sketches
from ..hashing import u64_hashes_from_arrow
from ..rsqf import Filter
from . import agg
from .agg import SketchSpec
from .probe import _Table, _probe_rows
from .sizing import broadcastable, sized_input, sized_tasks

SHARDED_SCHEMA = "shard int, n_fps long, payload binary"
SPLIT_SCHEMA = "key int, " + SHARDED_SCHEMA
_SAMPLES_PER_CHUNK = 64  # bounded per (wave, shard) row => driver metadata
                         # stays KB-scale at ANY corpus size (RangePartitioner
                         # uses the same bounded-sample-per-partition idea)

_FMT_RAW64 = 0
_FMT_REL32 = 1


def _pack_chunk(fps: np.ndarray, shard: int, range_bits: int) -> bytes:
    """Encode a shard's sorted fingerprints, shard-relative.

    Within shard s, every fingerprint lies in [s << range_bits,
    (s+1) << range_bits); when the range fits 32 bits the chunk ships as
    uint32 offsets from the shard base — halves shuffle bytes with a
    zero-cost decode (add the base back).
    """
    if range_bits <= 32:
        base = np.uint64(shard) << np.uint64(range_bits)
        rel = (fps - base).astype(np.uint32)
        return bytes([_FMT_REL32]) + rel.tobytes()
    return bytes([_FMT_RAW64]) + fps.tobytes()


def _unpack_chunk(buf, shard: int, range_bits: int) -> np.ndarray:
    mv = memoryview(buf)
    fmt = mv[0]
    if fmt == _FMT_REL32:
        base = np.uint64(shard) << np.uint64(range_bits)
        rel = np.frombuffer(mv, dtype=np.uint32, offset=1)
        return rel.astype(np.uint64) + base
    return np.frombuffer(mv, dtype=np.uint64, offset=1)


def _shard_blob(fps_global: np.ndarray, shard: int, local_qbits: int,
                rbits: int, keep: bool) -> bytes:
    """Shard-local quotient filter blob in the blocked physical format.

    Each shard stores its fingerprints relative to its own base (the top k
    quotient bits are the shard id), as a (qbits-k, rbits) filter — exactly
    how the reference structure partitions by quotient prefix. Blocked
    at-rest layout: ~(17 + 8*rbits)/64 bytes per slot (src/lib.rs:570-572)
    instead of 8 bytes per fingerprint. Local qbits grows if a hot shard
    exceeds its 95% load (fingerprints are value-stable through growth).
    Probes must mask to the shard-local fingerprint width (see callers).
    """
    fs_local = local_qbits + rbits
    base = np.uint64(shard) << np.uint64(fs_local)
    local = fps_global - base
    q = max(local_qbits, 6)
    while fps_global.size > ((1 << q) * 19 + 19) // 20:
        q += 1
    filt = Filter(q, rbits, None, local)
    return sketches.RsqfSketch(filt, keep).to_blocks_bytes()


def _fp_mask(fs: int) -> np.uint64:
    return np.uint64((1 << fs) - 1) if fs < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)


def _fp_meta(spec: SketchSpec) -> tuple[int, int, int]:
    """(qbits, rbits, fingerprint_size) of the spec's filter params."""
    f = spec.make().filter
    return f.qbits, f.rbits, f.fingerprint_size()


def shard_bits_for(n_shards: int) -> int:
    n = int(n_shards)
    if n != n_shards or n < 1 or n & (n - 1):
        raise ValueError(f"n_shards must be a power of two, got {n_shards!r}")
    return n.bit_length() - 1


class ShardDirectory:
    """Routing metadata for a sharded filter table.

    ``starts`` is the ascending array of global-fingerprint range starts,
    one per table row; row ``i`` owns [starts[i], starts[i+1]). Entry i's
    shard id is ``shards[i]`` (= starts[i] >> (fs-k)); every shard base is
    a start, so no row spans two shards. The uniform directory has exactly
    one row per shard and keys its table by ``shard``; a split directory
    (more rows than shards) keys it by the extra ``key`` column.
    """

    def __init__(self, starts: np.ndarray, fs: int, k: int):
        self.starts = np.asarray(starts, dtype=np.uint64)
        self.fs = fs
        self.k = k
        # k=0 with fs=64 would shift by 64 (undefined); every entry is
        # shard 0 in that degenerate single-shard case
        self.shards = ((self.starts >> np.uint64(fs - k)).astype(np.int64)
                       if fs - k < 64
                       else np.zeros(self.starts.size, dtype=np.int64))
        self.split = self.starts.size > (1 << k)
        self.key = "key" if self.split else "shard"
        self.schema = SPLIT_SCHEMA if self.split else SHARDED_SCHEMA
        self.local_mask = np.uint64((1 << (fs - k)) - 1)  # shard-local bits

    def row_of(self, h: np.ndarray) -> np.ndarray:
        """The directory row owning each uint64 hash's fingerprint."""
        return np.searchsorted(self.starts, h & _fp_mask(self.fs),
                               side="right") - 1

    def split_sorted(self, fps: np.ndarray) -> list[tuple[int, np.ndarray]]:
        """Split an ASCENDING fingerprint array at row boundaries."""
        bounds = np.searchsorted(fps, self.starts[1:], side="left")
        chunks = np.split(fps, bounds)
        return [(i, c) for i, c in enumerate(chunks) if c.size]


def _directory(n_shards, spec: SketchSpec) -> ShardDirectory:
    """The routing of ``n_shards``: a ShardDirectory as given, or an int as
    the uniform directory over the spec's fingerprint domain. Every sharded
    operation routes through here, so a spec of another kind is refused
    before any job runs."""
    if spec.kind != "rsqf":
        raise ValueError(
            f"sharded filter tables hold rsqf sketches, got kind {spec.kind!r}")
    if isinstance(n_shards, ShardDirectory):
        return n_shards
    k = shard_bits_for(n_shards)
    qbits, _, fs = _fp_meta(spec)
    if k > qbits:
        raise ValueError(
            f"n_shards={n_shards} needs a {k}-bit shard prefix, but the "
            f"filter's quotient has only {qbits} bits")
    return ShardDirectory(
        np.arange(n_shards, dtype=np.uint64) << np.uint64(fs - k), fs, k)


def plan_directory(sizes_samples: list, n_shards: int, fs: int,
                   max_fps_per_row: int) -> "ShardDirectory":
    """Plan split points from per-chunk (shard, n_fps, sample) metadata.

    Shards with more fingerprints than ``max_fps_per_row`` are split into
    ceil(n/max) ranges at WEIGHTED quantiles of the pooled chunk samples:
    each chunk's samples carry weight n_fps/len(samples), so a small final
    flush (or uneven task partitions) cannot skew the cut points — the same
    weighted-sample estimator Spark's RangePartitioner uses. Pure
    driver-side metadata.
    """
    k = shard_bits_for(n_shards)
    totals = np.zeros(n_shards, dtype=np.int64)
    samples: list[list[tuple[np.ndarray, int]]] = [[] for _ in range(n_shards)]
    for shard, n, smp in sizes_samples:
        totals[shard] += n
        if smp is not None and len(smp):
            samples[shard].append(
                (np.frombuffer(smp, dtype=np.uint64), int(n)))
    starts: list[int] = []
    for s in range(n_shards):
        base = s << (fs - k)
        starts.append(base)
        n_rows = -(-int(totals[s]) // max_fps_per_row) if totals[s] else 1
        if n_rows > 1 and samples[s]:
            vals = np.concatenate([a for a, _ in samples[s]])
            wts = np.concatenate([np.full(a.size, n / a.size)
                                  for a, n in samples[s]])
            order = np.argsort(vals, kind="stable")
            vals, cw = vals[order], np.cumsum(wts[order])
            targets = np.arange(1, n_rows) * (cw[-1] / n_rows)
            idx = np.minimum(np.searchsorted(cw, targets, side="left"),
                             vals.size - 1)
            cuts = np.unique(vals[idx])
            starts.extend(int(c) for c in cuts if int(c) > base)
    return ShardDirectory(np.array(sorted(set(starts)), dtype=np.uint64), fs, k)


def _rows(directory: ShardDirectory, keys, ns, payloads) -> "pa.Table":
    """Rows in the directory's table schema; ``keys`` are row keys."""
    import pyarrow as pa

    keys = np.asarray(keys, dtype=np.int64)
    cols = {"key": pa.array(keys, pa.int32())} if directory.split else {}
    cols.update(shard=pa.array(directory.shards[keys], pa.int32()),
                n_fps=pa.array(ns, pa.int64()),
                payload=pa.array(payloads, pa.binary()))
    return pa.table(cols)


def _cut(directory: ShardDirectory, fps: np.ndarray) -> "pa.Table":
    """Cut ASCENDING global fingerprints at the directory's row bounds into
    packed chunk rows."""
    parts = directory.split_sorted(fps)
    rb = directory.fs - directory.k
    return _rows(directory, [i for i, _ in parts], [c.size for _, c in parts],
                 [_pack_chunk(c, int(directory.shards[i]), rb)
                  for i, c in parts])


def _sized(df, spec_in: SketchSpec):
    """``(frame, tasks)`` of an emit stage's input: ``df`` projected to
    ``spec_in``'s column and sized (:func:`sizing.sized_tasks`)."""
    return sized_tasks(df.select(spec_in.col))


def _emit(frame, spec_in: SketchSpec, directory: ShardDirectory, stage,
          schema: str):
    """The one emitter: a mapInArrow pass over ``frame`` (an input from
    :func:`_sized`) that extracts fingerprints with ``spec_in``, masks them
    to the fingerprint width and sorts them; ``stage(waves)`` takes a
    task's sorted waves and yields the task's record batches
    (:func:`_emit_chunks` packs chunk rows per wave, the split build's
    planning pass samples them, the one-task build merges every row at the
    end, the broadcast probe counts hits in place).

    Spill-aware: a task's fingerprints go out in waves of
    ``agg._MAX_BUFFER`` (the RSQF build's wave buffer, :func:`agg._waves`),
    so per-task memory stays bounded no matter the input partition size
    (SURVEY.md §7 "Python-side memory" risk item) for every stage but the
    one-task build; every consumer treats each extra wave as one more
    sorted run of its row.
    """
    mask = _fp_mask(directory.fs)
    limit = agg._MAX_BUFFER  # read here, on the driver

    def waves(batches):
        for wave in agg._waves(spec_in, batches, limit):
            fps = wave.astype(np.uint64, copy=False)
            fps &= mask
            # default introsort: a wave is fresh UNSORTED hashes (unlike the
            # merge paths, which concatenate sorted runs and want timsort)
            # and this numpy's stable u64 sort is ~7x slower on random input
            fps.sort()
            yield fps

    return frame.mapInArrow(lambda batches: stage(waves(batches)), schema)


def _emit_chunks(frame, spec_in: SketchSpec, directory: ShardDirectory):
    """Per-(wave, row) sorted chunk rows of the fingerprints of ``frame``
    (an input from :func:`_sized`), in the directory's table schema."""
    def chunks(waves):
        for fps in waves:
            yield from _cut(directory, fps).to_batches()

    return _emit(frame, spec_in, directory, chunks, directory.schema)


def _broadcast_table(filter_df, directory: ShardDirectory):
    """The table's ``probe._Table``, collected and broadcast when Spark
    would broadcast the table in a join (:func:`sizing.broadcastable`);
    otherwise None, and nothing is collected."""
    if not broadcastable(filter_df):
        return None
    rows = filter_df.select(directory.key, "payload").collect()
    return filter_df.sparkSession.sparkContext.broadcast(_Table(
        directory, [(int(key), bytes(payload)) for key, payload in rows]))


def _hits(sk, runs, lm: np.uint64) -> int:
    """How many of the sorted global fingerprint ``runs`` of one row are in
    the row's decoded sketch ``sk`` (None: no table row, no hits)."""
    return 0 if sk is None else sum(
        int(sk.contains_hashes(q & lm).sum()) for q in runs)


def _row_merge(directory: ShardDirectory, spec: SketchSpec):
    """The one merge kernel (build, insert): ``merge(row, runs)`` merges
    the sorted global fingerprint ``runs`` of one directory row into the
    row's canonical shard-local blob, as a one-row table.

    A hot row grows its local qbits exactly like a build does, so the blob
    is a pure function of the row's fingerprint multiset: an insert is
    bit-equal to rebuilding from the union of old and new data, and every
    build plan writes the same bytes.
    """
    qbits, rbits, _ = _fp_meta(spec)
    k = directory.k
    keep = getattr(spec.make(), "keep_duplicates", True)

    def merge(row, runs):
        fps = np.concatenate(runs) if runs else np.empty(0, dtype=np.uint64)
        fps.sort(kind="stable")  # timsort: adaptive on concatenated sorted runs
        if not keep:
            fps = np.unique(fps)
        return _rows(directory, [row], [fps.size],
                     [_shard_blob(fps, int(directory.shards[row]), qbits - k,
                                  rbits, keep)])

    return merge


def _merge(chunks, directory: ShardDirectory, spec: SketchSpec,
           filter_df=None):
    """The grouped merge (build, insert): one :func:`_row_merge` per row
    key over the row's chunk runs — plus, when ``filter_df`` is given, the
    row's current fingerprints.

    Row blobs hold SHARD-LOCAL fingerprints while chunks arrive in global
    coordinates: old rows are lifted to global and merged. Rows absent from
    the table are created (a new prefix range appearing in fresh data).
    """
    rb = directory.fs - directory.k
    merge_row = _row_merge(directory, spec)

    def merge(key, new_tbl, old_tbl):
        row = key[0].as_py()
        shard = int(directory.shards[row])
        runs = [_unpack_chunk(p.as_py(), shard, rb)
                for p in new_tbl.column("payload")]
        if old_tbl is not None and old_tbl.num_rows:
            old = sketches.loads(old_tbl.column("payload")[0].as_py())
            runs.append(old.filter.fingerprints()
                        + (np.uint64(shard) << np.uint64(rb)))
        return merge_row(row, runs)

    grouped = chunks.groupBy(directory.key)
    if filter_df is None:
        return grouped.applyInArrow(lambda key, tbl: merge(key, tbl, None),
                                    directory.schema)
    return (grouped.cogroup(filter_df.groupBy(directory.key))
            .applyInArrow(merge, directory.schema))


def build_sharded_filter(df, spec: SketchSpec, n_shards=64):
    """Returns the distributed filter: one row per directory row that
    receives fingerprints — (shard, n_fps, payload) for the uniform
    directory of an int ``n_shards``.

    ``payload`` is a canonical sorted-fingerprint Filter blob restricted to
    the row's fingerprint range — for shard s of the uniform directory,
    [s << (fs-k), (s+1) << (fs-k)). Write it to Parquet to persist; union
    of rows == the single filter.

    The plan follows the emit stage's task count
    (:func:`sizing.sized_tasks`). With more than one task, or an unknown
    count, each task ships per-(wave, row) chunks to one grouped merge per
    row key. With one task, that task keeps each row's sorted runs across
    its waves and merges every row itself (scan, ``Coalesce 1``,
    ``MapInArrow``: one Python stage, no Exchange). That task holds all of
    its fingerprints until it emits, where the grouped merge holds one row
    at a time; one task means the estimated input is at most AQE's target
    partition size, which bounds it.
    """
    directory = _directory(n_shards, spec)
    frame, tasks = _sized(df, spec)
    if tasks != 1:
        return _merge(_emit_chunks(frame, spec, directory), directory, spec)
    merge_row = _row_merge(directory, spec)

    def merge_task(waves):
        runs: dict[int, list[np.ndarray]] = {}
        for fps in waves:
            for row, run in directory.split_sorted(fps):
                runs.setdefault(row, []).append(run)
        for row in sorted(runs):
            yield from merge_row(row, runs[row]).to_batches()

    return _emit(frame, spec, directory, merge_task, directory.schema)


def build_sharded_filter_split(df, spec: SketchSpec, n_shards: int = 64,
                               max_fps_per_row: int = 16_000_000):
    """Skew-resistant build: returns (filter_df, directory).

    Hot shards (biased upstream hashes, adversarial prefixes) are split
    RangePartitioner-style, so that no grouped merge task holds more than
    ~``max_fps_per_row`` fingerprints (a one-task build merges every row
    in its one task, see :func:`build_sharded_filter`). A planning pass of
    the build's emitter yields, per (sorted wave, shard), the fingerprint
    count and a bounded systematic sample; :func:`plan_directory` cuts
    each oversized shard at weighted sample quantiles from those few KB on
    the driver, and the table is :func:`build_sharded_filter` over that
    directory — lazy, like every build. Payloads stay shard-local, so the
    union of a shard's rows is bit-equal to the unsplit shard. Copies of
    ONE fingerprint value cannot be range-split. Trade-off: the input is
    scanned and hashed twice.
    """
    import pyarrow as pa

    if max_fps_per_row < 1:
        raise ValueError(
            f"max_fps_per_row must be >= 1, got {max_fps_per_row!r}")
    uniform = _directory(n_shards, spec)
    if isinstance(n_shards, ShardDirectory):
        raise ValueError("build_sharded_filter_split plans its directory: "
                         "pass n_shards as an int, not a ShardDirectory")

    def sizes(waves):
        for fps in waves:
            parts = uniform.split_sorted(fps)
            yield from pa.table({
                "shard": pa.array([i for i, _ in parts], pa.int32()),
                "n_fps": pa.array([c.size for _, c in parts], pa.int64()),
                "sample": pa.array(
                    [c[::max(1, c.size // _SAMPLES_PER_CHUNK)].tobytes()
                     for _, c in parts], pa.binary())}).to_batches()

    meta = _emit(_sized(df, spec)[0], spec, uniform, sizes,
                 "shard int, n_fps long, sample binary").collect()
    directory = plan_directory(meta, n_shards, uniform.fs, max_fps_per_row)
    return build_sharded_filter(df, spec, directory), directory


def insert_sharded(filter_df, new_df, spec_in: SketchSpec, n_shards,
                   spec: SketchSpec):
    """Incremental insert into an EXISTING sharded filter table.

    The daily-ingest operation: new rows are extracted with ``spec_in``
    (same modes as the build spec), shuffled as sorted per-(task, row)
    chunks, and merged into each row's blob via a co-partitioned group
    join — the build's merge kernel, so the result is bit-equal to
    rebuilding from the union of old and new data, in either directory
    shape.
    """
    directory = _directory(n_shards, spec)
    chunks = _emit_chunks(_sized(new_df, spec_in)[0], spec_in, directory)
    return _merge(chunks, directory, spec, filter_df)


def probe_sharded_chunks(df, spec_in: SketchSpec, filter_df, n_shards,
                         spec: SketchSpec):
    """Membership stats per row key: (shard, n_probed, n_contained) for
    the uniform directory, (key, n_probed, n_contained) for a split one,
    one row per row key that received probes. Sum for global counts.

    The probe side runs the same emitter as the build (``spec_in``
    describes how to extract probe hashes from ``df``; same modes as the
    build spec): each task sorts its partition's hashes once and cuts them
    at the row boundaries, and each row's sorted queries go to the row
    sketch's own ``contains_hashes``. The plan is picked the way Spark
    picks a broadcast join:

    - **small table** (``filter_df``'s estimated ``sizeInBytes`` at most
      ``spark.sql.autoBroadcastJoinThreshold``): its (key, payload) rows
      are collected and broadcast, each worker decodes a row the first
      time a wave reaches it, and the emit stage probes its sorted waves
      in place, summing each row's counts over the task's waves. One
      Python map stage; when it runs more than one task (or an unknown
      number, :func:`sizing.sized_tasks`), a JVM ``groupBy`` sums the
      per-task rows per row key.
    - **otherwise** (a larger table, a threshold of ``-1``, or a table
      whose size Spark does not know, which is never collected): the
      emitter ships one binary chunk per (task, row), co-grouped with the
      row (``cogroup.applyInArrow``), so each task touches exactly one
      row's state. At 100 TB this turns the probe shuffle from O(rows)
      record overhead into O(bytes).
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    directory = _directory(n_shards, spec)
    fs, k, lm = directory.fs, directory.k, directory.local_mask
    schema = f"{directory.key} int, n_probed long, n_contained long"

    def stats(keys, ns, hits):
        return pa.table({directory.key: pa.array(keys, pa.int32()),
                         "n_probed": pa.array(ns, pa.int64()),
                         "n_contained": pa.array(hits, pa.int64())})

    frame, tasks = _sized(df, spec_in)
    b = _broadcast_table(filter_df, directory)
    if b is not None:
        def probe_task(waves):
            table = b.value
            ns = np.zeros(directory.starts.size, dtype=np.int64)
            hits = np.zeros_like(ns)
            for fps in waves:
                for i, c in directory.split_sorted(fps):
                    ns[i] += c.size
                    hits[i] += _hits(table.sketch(i), [c], lm)
            keys = np.flatnonzero(ns)
            yield from stats(keys, ns[keys], hits[keys]).to_batches()

        sums = _emit(frame, spec_in, directory, probe_task, schema)
        if tasks == 1:
            return sums
        return sums.groupBy(directory.key).agg(
            F.sum("n_probed").alias("n_probed"),
            F.sum("n_contained").alias("n_contained"))

    def probe_row(key, probes_tbl, filt_tbl):
        if probes_tbl.num_rows == 0:
            return stats([], [], [])
        row = key[0].as_py()
        shard = int(directory.shards[row])
        qs = [_unpack_chunk(p.as_py(), shard, fs - k)
              for p in probes_tbl.column("payload")]
        sk = (sketches.loads(filt_tbl.column("payload")[0].as_py())
              if filt_tbl.num_rows else None)
        return stats([row], [sum(int(q.size) for q in qs)],
                     [_hits(sk, qs, lm)])

    return (_emit_chunks(frame, spec_in, directory).groupBy(directory.key)
            .cogroup(filter_df.groupBy(directory.key))
            .applyInArrow(probe_row, schema))


def probe_sharded(probe_df, hash_col: str, filter_df, n_shards,
                  spec: SketchSpec):
    """:func:`probe_sharded_chunks` for a column of prehashed int64 keys."""
    return probe_sharded_chunks(
        probe_df, SketchSpec(spec.kind, spec.params, "hash_col", hash_col),
        filter_df, n_shards, spec)


def remove_sharded(filter_df, removals_df, hash_col: str, n_shards,
                   spec: SketchSpec):
    """Distributed remove: retractions travel to their row as sorted
    chunks, the mirror image of :func:`insert_sharded`.

    Each row applies its batch locally (one occurrence removed per request
    when present — reference remove semantics, src/lib.rs:1072-1129, with
    the same collision caveat) and keeps its local qbits. Returns the new
    filter DataFrame; removals of absent fingerprints are ignored (count
    clamped at zero), implementing the "counting merge with signed
    multiplicities" plan from SURVEY.md §2.1 row 10. A row drained to
    empty stays in the table with ``n_fps = 0``.
    """
    directory = _directory(n_shards, spec)
    fs, k = directory.fs, directory.k
    keep = getattr(spec.make(), "keep_duplicates", True)
    spec_in = SketchSpec(spec.kind, spec.params, "hash_col", hash_col)

    def remove_row(key, rem_tbl, filt_tbl):
        if filt_tbl.num_rows == 0:
            return _rows(directory, [], [], [])
        row = key[0].as_py()
        shard = int(directory.shards[row])
        f = sketches.loads(filt_tbl.column("payload")[0].as_py()).filter
        if rem_tbl.num_rows:
            f.remove_hashes(np.concatenate(
                [_unpack_chunk(p.as_py(), shard, fs - k)
                 for p in rem_tbl.column("payload")]) & directory.local_mask)
        blob = sketches.RsqfSketch(
            Filter(f.qbits, f.rbits, None, f.fingerprints()),
            keep).to_blocks_bytes()
        return _rows(directory, [row], [len(f)], [blob])

    chunks = _emit_chunks(_sized(removals_df, spec_in)[0], spec_in,
                          directory)
    return (chunks.groupBy(directory.key)
            .cogroup(filter_df.groupBy(directory.key))
            .applyInArrow(remove_row, directory.schema))


def _route_by_shard(df, hash_col: str, fs: int, k: int):
    """(h, shard) projection: the JVM-side fingerprint-prefix shard router,
    in lockstep with the directory's shard function. Guards the JVM's
    shift-mod-64: at k=0 with a 64-bit fingerprint, ``h >>> 64`` would
    return h, not 0."""
    from pyspark.sql import functions as F

    shard = (F.lit(0) if fs - k >= 64 else F.shiftrightunsigned(
        F.col(hash_col).bitwiseAND(F.lit((1 << fs) - 1 if fs < 64 else -1)),
        fs - k))
    return df.select(F.col(hash_col).alias("h"),
                     shard.cast("int").alias("shard"))


def count_sharded(probe_df, hash_col: str, filter_df, n_shards,
                  spec: SketchSpec):
    """Per-key COUNT estimates through the sharded layout (reference
    counting semantics src/lib.rs:1008-1018 applied at table scale).

    Each probe row receives the shard-local ``count_hashes`` estimate of
    the table row that owns its fingerprint (:meth:`probe._Table.answer`);
    a split shard's rows hold disjoint ranges, so that row's count is the
    shard's. Returns
    (h, est), one row per probe row, keyed by the probe hash; join back on
    ``h`` downstream. Counting multiplicity lives entirely inside one shard
    (a fingerprint's copies share its prefix), so sharded counts are
    exactly the single-filter counts.

    The plan is picked like :func:`probe_sharded_chunks`'s: a table whose
    estimated ``sizeInBytes`` is at most
    ``spark.sql.autoBroadcastJoinThreshold`` is broadcast and every probe
    row is answered in one map stage; otherwise (a larger table, ``-1``,
    or unknown size) each probe row routes to its shard in one
    co-partitioned shuffle of single rows, co-grouped with the shard's
    table rows.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    directory = _directory(n_shards, spec)
    b = _broadcast_table(filter_df, directory)
    if b is not None:
        return _probe_rows(
            probe_df.select(F.col(hash_col).cast("long").alias("h")),
            "h", "est", False, b, "count_sharded")

    def count_group(key, probes_tbl, filt_tbl):
        # a NULL hash routes to the NULL shard, whose filter side is always
        # empty: refuse it via the shared helper (the chunk emitter refuses
        # NULLs in SketchSpec.extract) instead of laundering it through NaN
        h = u64_hashes_from_arrow(probes_tbl.column("h"), "count_sharded")
        table = _Table(directory, zip(
            filt_tbl.column(directory.key).to_pylist(),
            filt_tbl.column("payload").to_pylist()))
        return pa.table({"h": pa.array(h.view(np.int64), pa.int64()),
                         "est": pa.array(table.answer(h, False), pa.int64())})

    return (_route_by_shard(probe_df, hash_col, directory.fs, directory.k)
            .groupBy("shard").cogroup(filter_df.groupBy("shard"))
            .applyInArrow(count_group, "h long, est long"))


def shrink_sharded(filter_df):
    """Distributed shrink_to_fit: re-fit every shard's local qbits to its
    content (reference shrink semantics src/lib.rs:1311-1328, applied
    per shard row).

    The maintenance pass after heavy removes: each row re-encodes at the
    smallest block count its load factor allows (repeatedly, since the
    single-node op shrinks one step per call), reclaiming at-rest bytes.
    Pure per-row map — no shuffle; fingerprints and answers unchanged.
    """
    import pyarrow as pa

    def shrink(payload: bytes) -> bytes:
        sk = sketches.loads(payload)
        while True:
            q0 = sk.filter.qbits
            sk.filter.shrink_to_fit()
            if sk.filter.qbits == q0:
                return sk.to_blocks_bytes()

    def shrink_rows(batches):
        for batch in batches:
            i = batch.schema.get_field_index("payload")
            yield batch.set_column(i, "payload", pa.array(
                [shrink(p) for p in batch.column(i).to_pylist()], pa.binary()))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in filter_df.schema.fields)
    return sized_input(filter_df).mapInArrow(shrink_rows, schema)


def sharded_to_single(filter_df, spec: SketchSpec, n_shards=64) -> bytes:
    """Collapse the table to one global blob (parity tests / export).

    Row blobs hold shard-local fingerprints (fs-k bits); adding each row's
    shard base back and concatenating in shard order yields the global
    sorted multiset (shards are contiguous ranges; the rows of a split
    shard are disjoint ranges, which the adaptive sort merges).
    """
    k = _directory(n_shards, spec).k
    qbits, rbits, fs = _fp_meta(spec)
    keep = getattr(spec.make(), "keep_duplicates", True)
    parts = [sketches.loads(bytes(r["payload"])).filter.fingerprints()
             + (np.uint64(r["shard"]) << np.uint64(fs - k))
             for r in sorted(filter_df.collect(), key=lambda r: r["shard"])]
    fps = np.concatenate(parts or [np.empty(0, dtype=np.uint64)])
    fps.sort(kind="stable")
    return sketches.RsqfSketch(Filter(qbits, rbits, None, fps), keep).to_bytes()
