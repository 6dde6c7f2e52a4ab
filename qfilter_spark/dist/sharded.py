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
(:func:`build_sharded_filter_split`) cuts hot shards into several rows;
only a table with more rows than shards carries the extra ``key`` column
(key, shard, n_fps, payload). Every operation takes ``n_shards`` as an int
(the uniform directory) or as a ShardDirectory.

Build / insert: one ``mapInArrow`` pass emits per-(task, row) sorted
fingerprint chunks; one grouped merge per row key (k-way timsort of sorted
runs) writes each row's blob, and an insert co-groups the chunks with the
existing rows. The filter then LIVES as a Parquet table — the checkpointed
lineage IS the data.

Probe / remove: probe and retraction hashes travel as the same sorted
chunks, co-grouped with their row (``cogroup.applyInArrow``) — a
co-partitioned join; each task touches exactly one row's state. No
broadcast, no driver blob, no single reducer, at any scale. Only
:func:`count_sharded`, which answers per probe row, shuffles single rows.
"""

from __future__ import annotations

import numpy as np

from .. import sketches
from ..hashing import u64_hashes_from_arrow
from ..rsqf import Filter
from .agg import SketchSpec

SHARDED_SCHEMA = "shard int, n_fps long, payload binary"
SPLIT_SCHEMA = "key int, " + SHARDED_SCHEMA
_SPLIT_PREFIX = "qfs_split_"
_SAMPLES_PER_CHUNK = 64  # bounded per (task, shard) row => driver metadata
                         # stays KB-scale at ANY corpus size (RangePartitioner
                         # uses the same bounded-sample-per-partition idea)
# per-task fingerprint buffer (~128 MB) before the emitter flushes a chunk
# wave; read on the driver when a plan is built
_MAX_BUFFER = 16_000_000

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


def _local_mask(fs: int, k: int) -> np.uint64:
    return np.uint64((1 << (fs - k)) - 1)


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

    def split_sorted(self, fps: np.ndarray) -> list[tuple[int, np.ndarray]]:
        """Split an ASCENDING fingerprint array at row boundaries."""
        bounds = np.searchsorted(fps, self.starts[1:], side="left")
        chunks = np.split(fps, bounds)
        return [(i, c) for i, c in enumerate(chunks) if c.size]


def _directory(n_shards, spec: SketchSpec) -> ShardDirectory:
    """The routing of ``n_shards``: a ShardDirectory as given, or an int as
    the uniform directory over the spec's fingerprint domain."""
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


def _rows(directory: ShardDirectory, keys, ns, payloads,
          **extra) -> "pa.Table":
    """Rows in the directory's table schema; ``keys`` are row keys."""
    import pyarrow as pa

    keys = np.asarray(keys, dtype=np.int64)
    cols = {"key": pa.array(keys, pa.int32())} if directory.split else {}
    cols.update(shard=pa.array(directory.shards[keys], pa.int32()),
                n_fps=pa.array(ns, pa.int64()),
                payload=pa.array(payloads, pa.binary()), **extra)
    return pa.table(cols)


def _cut(directory: ShardDirectory, fps: np.ndarray,
         with_samples: bool = False) -> "pa.Table":
    """Cut ASCENDING global fingerprints at the directory's row bounds into
    packed chunk rows, optionally with a bounded systematic sample per row
    for split planning."""
    import pyarrow as pa

    parts = directory.split_sorted(fps)
    keys = [i for i, _ in parts]
    rb = directory.fs - directory.k
    extra = {}
    if with_samples:
        extra["sample"] = pa.array(
            [c[::max(1, c.size // _SAMPLES_PER_CHUNK)].tobytes()
             for _, c in parts], pa.binary())
    return _rows(directory, keys, [c.size for _, c in parts],
                 [_pack_chunk(c, int(directory.shards[i]), rb)
                  for i, c in parts], **extra)


def _emit_chunks(df, spec_in: SketchSpec, directory: ShardDirectory,
                 with_samples: bool = False):
    """The one chunk emitter: a mapInArrow pass that extracts fingerprints
    with ``spec_in`` and emits per-(task, row) sorted chunk rows.

    Spill-aware: a task's fingerprint buffer flushes every ``_MAX_BUFFER``
    entries, so per-task memory stays bounded no matter the input partition
    size (SURVEY.md §7 "Python-side memory" risk item); every consumer
    treats each extra wave as one more sorted run of its row.
    """
    fs = directory.fs
    mask = np.uint64((1 << fs) - 1) if fs < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    flush_at = _MAX_BUFFER  # read here, on the driver
    schema = directory.schema + (", sample binary" if with_samples else "")

    def flush(buf: list):
        fps = np.concatenate(buf)
        # default introsort: the buffer is fresh UNSORTED hashes (unlike the
        # merge paths, which concatenate sorted runs and want timsort) and
        # this numpy's stable u64 sort is ~7x slower on random input
        fps.sort()
        return _cut(directory, fps, with_samples).to_batches()

    def emit(batches):
        buf: list[np.ndarray] = []
        buffered = 0
        for batch in batches:
            if batch.num_rows:
                data = spec_in.extract(batch)
                if data.size:
                    buf.append(np.asarray(data, dtype=np.uint64) & mask)
                    buffered += data.size
            if buffered >= flush_at:
                yield from flush(buf)
                buf, buffered = [], 0
        if buf:
            yield from flush(buf)

    return df.select(spec_in.col).mapInArrow(emit, schema)


def _merge(chunks, directory: ShardDirectory, spec: SketchSpec,
           filter_df=None):
    """The one merge kernel (build, split build, insert): every row's
    sorted chunk runs — plus, when ``filter_df`` is given, the row's
    current fingerprints — merge into one canonical shard-local blob.

    Row blobs hold SHARD-LOCAL fingerprints while chunks arrive in global
    coordinates: old rows are lifted to global, merged, and re-encoded
    shard-local. Rows absent from the table are created (a new prefix range
    appearing in fresh data), and a hot row grows its local qbits exactly
    like a build does, so an insert is bit-equal to rebuilding from the
    union of old and new data (canonical-form merge).
    """
    qbits, rbits, fs = _fp_meta(spec)
    k = directory.k
    keep = getattr(spec.make(), "keep_duplicates", True)

    def merge(key, new_tbl, old_tbl):
        row = key[0].as_py()
        shard = int(directory.shards[row])
        runs = [_unpack_chunk(p.as_py(), shard, fs - k)
                for p in new_tbl.column("payload")]
        if old_tbl is not None and old_tbl.num_rows:
            old = sketches.loads(old_tbl.column("payload")[0].as_py())
            runs.append(old.filter.fingerprints()
                        + (np.uint64(shard) << np.uint64(fs - k)))
        fps = np.concatenate(runs) if runs else np.empty(0, dtype=np.uint64)
        fps.sort(kind="stable")  # timsort: adaptive on concatenated sorted runs
        if not keep:
            fps = np.unique(fps)
        return _rows(directory, [row], [fps.size],
                     [_shard_blob(fps, shard, qbits - k, rbits, keep)])

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
    """
    directory = _directory(n_shards, spec)
    return _merge(_emit_chunks(df, spec, directory), directory, spec)


def build_sharded_filter_split(df, spec: SketchSpec, n_shards: int = 64,
                               max_fps_per_row: int = 16_000_000,
                               path: str | None = None):
    """Skew-resistant build: returns (filter_df, directory).

    A shard whose fingerprint range is hit disproportionately (biased
    upstream hashes, adversarial prefixes) would concentrate one task's
    memory. The fix is a RangePartitioner-style split. Two passes over the
    CHUNK rows (never the raw input): pass 1 collects per-shard sizes + a
    bounded sample of each sorted chunk (driver sees only metadata, a few
    KB) and plans quantile split points for oversized shards; pass 2
    re-cuts each sorted chunk at the planned boundaries and merges per row
    key. Every merge task handles <= ~max_fps_per_row fingerprints
    regardless of prefix skew. Row payloads stay in shard-local
    coordinates, so the canonical form and the blob codec are untouched —
    the split is pure metadata, and the union of a shard's rows is
    bit-equal to the unsplit shard. Limitation: a multiset piled onto ONE
    fingerprint value cannot be range-split (its copies stay in one row);
    distinct-key skew is fully handled.

    The merged table's at-rest form is a parquet directory at ``path``
    (default: a unique dir under ``spark.qfilter.intermediateDir`` /
    system temp) and the returned DataFrame simply reads it — matching how
    the unsplit filter lives as a parquet table, with NO caller-side
    unpersist contract and nothing pinned in executor memory. Call
    :func:`retire_split_filter` on the returned DataFrame to delete the
    directory when the filter is retired.
    """
    import uuid

    from pyspark import StorageLevel

    uniform = _directory(n_shards, spec)
    chunks_df = _emit_chunks(df, spec, uniform, with_samples=True) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    meta = chunks_df.select("shard", "n_fps", "sample").collect()
    directory = plan_directory(
        [(r["shard"], r["n_fps"], r["sample"]) for r in meta],
        n_shards, uniform.fs, max_fps_per_row)
    rb = directory.fs - directory.k

    def resplit(batches):
        for batch in batches:
            shards = batch.column("shard").to_numpy(zero_copy_only=False)
            for shard, p in zip(shards, batch.column("payload")):
                fps = _unpack_chunk(p.as_py(), int(shard), rb)
                yield from _cut(directory, fps).to_batches()

    keyed = chunks_df.mapInArrow(resplit, directory.schema)

    # materialize the merged table NOW (to its at-rest parquet home) so the
    # corpus-scale chunk cache can be released inside this call
    spark = df.sparkSession
    if path is None:
        from ..fsutil import child
        from ..sources import intermediate_dir, sweep_dead_intermediates

        base = intermediate_dir(spark)
        app = spark.sparkContext.applicationId
        # dead-session leftovers; once per (base, prefix) per process
        sweep_dead_intermediates(spark, base, app, _SPLIT_PREFIX)
        path = child(base, f"{_SPLIT_PREFIX}{app}_{uuid.uuid4().hex[:8]}")
    _merge(keyed, directory, spec).write.mode("errorifexists").parquet(path)
    chunks_df.unpersist()
    out = spark.read.schema(directory.schema).parquet(path)
    out._qfs_split_path = path  # lets retire_split_filter find an empty table
    return out, directory


def retire_split_filter(filter_df) -> None:
    """Delete a split filter table's at-rest parquet directory — the
    retire contract from :func:`build_sharded_filter_split`. The directory
    is recovered from the path the builder attached, falling back to the
    scan's input files (covers DataFrames re-created from the path by the
    caller); an empty-table scan with no input files and no attached path
    is a no-op. Deletion goes through the session's Hadoop FileSystem,
    keeping the full URI: a remote table (``hdfs://``/``s3a://`` — the
    ``intermediateDir`` conf explicitly invites remote scratch) is really
    freed, and the scheme is never stripped down to a bare path that
    could name an unrelated directory on the driver's local disk."""
    from ..fsutil import delete

    path = getattr(filter_df, "_qfs_split_path", None)
    if path is None:
        files = filter_df.inputFiles()
        if not files:
            return
        path = files[0].rsplit("/", 1)[0]
    delete(filter_df.sparkSession, path)


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
    return _merge(_emit_chunks(new_df, spec_in, directory), directory, spec,
                  filter_df)


def probe_sharded_chunks(df, spec_in: SketchSpec, filter_df, n_shards,
                         spec: SketchSpec):
    """Membership stats per row key: (shard, n_probed, n_contained) for
    the uniform directory, (key, n_probed, n_contained) for a split one.
    Sum for global counts.

    The probe side runs the same chunk emitter as the build (``spec_in``
    describes how to extract probe hashes from ``df``; same modes as the
    build spec): it sorts its partition's hashes once, cuts them at the
    row boundaries, and ships one binary blob per (task, row) — a few
    thousand rows of vector payloads instead of billions of scalar rows.
    Each row task then probes sorted-queries-against-sorted-table, the
    cache-optimal case. At 100 TB this turns the probe shuffle from
    O(rows) record overhead into O(bytes).
    """
    import pyarrow as pa

    directory = _directory(n_shards, spec)
    fs, k = directory.fs, directory.k
    schema = f"{directory.key} int, n_probed long, n_contained long"

    def probe_row(key, probes_tbl, filt_tbl):
        if probes_tbl.num_rows == 0:
            return pa.table({directory.key: pa.array([], pa.int32()),
                             "n_probed": pa.array([], pa.int64()),
                             "n_contained": pa.array([], pa.int64())})
        row = key[0].as_py()
        shard = int(directory.shards[row])
        qs = [_unpack_chunk(p.as_py(), shard, fs - k)
              for p in probes_tbl.column("payload")]
        n = sum(int(q.size) for q in qs)
        hit = 0
        if filt_tbl.num_rows:
            sk = sketches.loads(filt_tbl.column("payload")[0].as_py())
            table = sk.filter._fps
            lm = _local_mask(fs, k)
            # table.size guard: a row drained to empty by remove_sharded
            # still exists, and min(lo, -1) would index into nothing
            for q in qs if table.size else ():  # sorted: locality-optimal
                q = q & lm  # shard-local coordinates (stays sorted)
                lo = np.searchsorted(table, q, side="left")
                hit += int(((lo < table.size)
                            & (table[np.minimum(lo, table.size - 1)] == q))
                           .sum())
        return pa.table({directory.key: pa.array([row], pa.int32()),
                         "n_probed": pa.array([n], pa.int64()),
                         "n_contained": pa.array([hit], pa.int64())})

    return (_emit_chunks(df, spec_in, directory).groupBy(directory.key)
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
                 for p in rem_tbl.column("payload")]) & _local_mask(fs, k))
        blob = sketches.RsqfSketch(
            Filter(f.qbits, f.rbits, None, f.fingerprints()),
            keep).to_blocks_bytes()
        return _rows(directory, [row], [len(f)], [blob])

    return (_emit_chunks(removals_df, spec_in, directory)
            .groupBy(directory.key)
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

    Each probe row routes to its fingerprint-prefix shard — one
    co-partitioned shuffle of single rows, since the answer is per row —
    and receives the shard-local ``count_hashes`` estimate. A split
    shard's rows hold disjoint ranges, so the shard's estimate is the sum
    over its rows. Returns (h, est) keyed by the probe hash; join back on
    ``h`` downstream. Counting multiplicity lives entirely inside one shard
    (a fingerprint's copies share its prefix), so sharded counts are
    exactly the single-filter counts.
    """
    import pyarrow as pa

    directory = _directory(n_shards, spec)
    fs, k = directory.fs, directory.k

    probes = _route_by_shard(probe_df, hash_col, fs, k)

    def count_group(key, probes_tbl, filt_tbl):
        n = probes_tbl.num_rows
        if n == 0:
            return pa.table({"h": pa.array([], pa.int64()),
                             "est": pa.array([], pa.int64())})
        # a NULL hash routes to the NULL shard, whose filter side is always
        # empty: refuse it via the shared helper (the chunk emitter refuses
        # NULLs in SketchSpec.extract) instead of laundering it through NaN
        h_u64 = u64_hashes_from_arrow(probes_tbl.column("h"), "count_sharded")
        est = np.zeros(n, dtype=np.int64)
        for p in filt_tbl.column("payload"):
            sk = sketches.loads(p.as_py())
            est += np.asarray(sk.count_hashes(h_u64 & _local_mask(fs, k)),
                              dtype=np.int64)
        return pa.table({"h": pa.array(h_u64.view(np.int64), pa.int64()),
                         "est": pa.array(est, pa.int64())})

    return (probes.groupBy("shard")
            .cogroup(filter_df.groupBy("shard"))
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

    def shrink_rows(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = {n: [] for n in batch.schema.names}
            payload_idx = batch.schema.get_field_index("payload")
            for i in range(batch.num_rows):
                sk = sketches.loads(batch.column(payload_idx)[i].as_py())
                while True:
                    q0 = sk.filter.qbits
                    sk.filter.shrink_to_fit()
                    if sk.filter.qbits == q0:
                        break
                for j, name in enumerate(batch.schema.names):
                    cols[name].append(sk.to_blocks_bytes() if j == payload_idx
                                      else batch.column(j)[i].as_py())
            yield pa.record_batch(
                [pa.array(cols[f.name],
                          pa.binary() if f.name == "payload" else f.type)
                 for f in batch.schema],
                names=list(batch.schema.names))

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in filter_df.schema.fields)
    return filter_df.mapInArrow(shrink_rows, schema)


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
    rows = sorted(filter_df.collect(), key=lambda r: r["shard"])
    parts = []
    for r in rows:
        local = sketches.loads(bytes(r["payload"])).filter.fingerprints()
        base = np.uint64(int(r["shard"])) << np.uint64(fs - k)
        parts.append(local + base)
    fps = (np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64))
    fps.sort(kind="stable")
    return sketches.RsqfSketch(Filter(qbits, rbits, None, fps), keep).to_bytes()
