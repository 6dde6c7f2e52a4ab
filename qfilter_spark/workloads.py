"""Workload catalog: every operator exposed as a (spark, sf_dir) -> DataFrame
query plus an exact DuckDB oracle (driver contract in __spark_entry__.py).

Approximate answers are made exactly checkable by returning the *assertion*
as data: each sketch query computes its estimate AND the exact answer
distributively, emits the exact value plus a boolean "estimate within the
algorithm's published bound" — deterministic because all hashing is seeded
XXH64 and all inputs are fixed parquet.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sketches
from .dist import SketchSpec, build_sketch, partial_sketches
from .dist.agg import merge_payloads
from .dist.probe import probe_hashes
from .functions import ann, dedup, multimodal, text as T


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata only — no data scan.

    Replaces the round-1 ``df.count()`` capacity pre-scans: at warehouse
    scale those were a full extra pass over the corpus per query, while
    footers (or catalog statistics) give the same number for free.
    """
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(pq.read_metadata(os.path.join(path, f)).num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.read_metadata(path).num_rows


def first_parquet_row(sf_dir: str, name: str, columns: list[str]):
    """First row of a parquet table as a pyarrow RecordBatch — driver-side
    footer+page read, no Spark job (companion to :func:`table_rows` /
    :func:`table_column_range`; same file-or-dir resolution)."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        path = sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.endswith(".parquet"))[0]
    return next(pq.ParquetFile(path).iter_batches(batch_size=1,
                                                  columns=columns))


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan produced
    fewer splits than cores (small single-file inputs). At warehouse scale
    the scan has thousands of splits and this is a no-op — no extra shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _partials_per_partition(df: DataFrame, spec: SketchSpec) -> DataFrame:
    """``partial_sketches`` with one partial per partition of ``df``: input
    sizing off while the plan is built, for the gate queries that check
    merges of several partials of a small table."""
    conf = df.sparkSession.conf
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = conf.get(key)
    conf.set(key, "false")
    try:
        return partial_sketches(df, spec)
    finally:
        conf.set(key, old)


def _hashed(df: DataFrame, col: str, out: str = "h") -> DataFrame:
    """int64 XXH64 column, JVM-side (cast to long first: int32 lanes differ)."""
    return df.withColumn(out, F.xxhash64(F.col(col).cast("long")))


class _session_confs:
    """Temporarily override session confs (restored on exit)."""

    def __init__(self, spark: SparkSession, **confs):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        self.old = {k: self.spark.conf.get(k, None) for k in self.confs}
        for k, v in self.confs.items():
            self.spark.conf.set(k, str(v))

    def __exit__(self, *exc):
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def _few_shuffle_partitions(spark: SparkSession, n: int = 2):
    """Cap spark.sql.shuffle.partitions for a streaming query, and pin the
    session timezone to UTC so event-time window arithmetic is portable.

    A Structured Streaming checkpoint fixes its STATE partition count from
    this setting at first start; a 200-partition default means 200 state
    tasks per trigger for a toy stream. Gate/bench streams set a small
    count for their own (fresh) checkpoints and restore the session value.

    The default is sized to the gate streams' KEY cardinality (<= 5 event
    types / <= 30 windows — more state partitions than distinct keys is
    pure per-trigger task overhead at any cluster size; measured 8 -> 2
    cuts the keyed gate row ~30%). Production streams with real key
    cardinality should pass a larger ``n``.
    """
    return _session_confs(spark, **{"spark.sql.shuffle.partitions": n,
                                    "spark.sql.session.timeZone": "UTC"})


def _write_stream_chunks(df: DataFrame, src: str, chunk_col,
                         n_chunks: int, start: int = 0) -> None:
    """Write ``n_chunks`` parquet replay files into ``src`` with ascending
    mtimes — the deterministic file-source replay setup for the streaming
    gate queries — in ONE Spark job: tag each row with its chunk id,
    shuffle by chunk (each chunk lands in exactly one task), write
    ``partitionBy(chunk)``, then rename the per-chunk part files into
    place. Executors write every row; the driver touches file NAMES only
    (a real deployment reads Kafka/files already in place).
    """
    import glob
    import os
    import shutil

    tmp = os.path.join(src, ".tmp-write")
    (df.withColumn("__chunk", chunk_col)
       .repartition(n_chunks, "__chunk")
       .write.partitionBy("__chunk").parquet(tmp))
    for i in range(n_chunks):
        parts = glob.glob(os.path.join(tmp, f"__chunk={i}", "*.parquet"))
        if not parts:  # an empty chunk writes no dir: skip its file (the
            continue   # replay just has one fewer trigger)
        assert len(parts) == 1, f"chunk {i}: {len(parts)} files"
        dst = os.path.join(src, f"{start + i:02d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (1_700_000_000 + start + i, 1_700_000_000 + start + i))
    # fail LOUDLY if any row landed outside the expected chunk ids — a
    # NULL chunk expression writes __chunk=__HIVE_DEFAULT_PARTITION__,
    # which the move loop above would silently drop from the replay
    stray = [e for e in os.listdir(tmp)
             if e.startswith("__chunk=")
             and not e[len("__chunk="):].isdigit()]
    assert not stray, f"rows with NULL/non-integer chunk ids: {stray}"
    shutil.rmtree(tmp, ignore_errors=True)


def _write_control_row(src: str, idx: int, ts_us: int, event_id: int) -> None:
    """Write a one-row control/sentinel file (driver-side pyarrow: the row
    is CONSTRUCTED, not read from any table — watermark plumbing only)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({"ts": pa.array([ts_us], pa.timestamp("us")),
                    "event_id": pa.array([event_id], pa.int64())})
    p = os.path.join(src, f"{idx:02d}.parquet")
    pq.write_table(tbl, p)
    os.utime(p, (1_700_000_000 + idx, 1_700_000_000 + idx))


def table_column_range(sf_dir: str, name: str, col: str):
    """(min, max) of a column from parquet FOOTER row-group statistics
    only — no data scan (catalog statistics at warehouse scale)."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = ([os.path.join(path, f) for f in os.listdir(path)
              if f.endswith(".parquet")] if os.path.isdir(path) else [path])
    lo = hi = None
    for f in files:
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    st = c.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    assert lo is not None, f"no footer statistics for {name}.{col}"
    return lo, hi


def _one_row(spark: SparkSession, **cols) -> DataFrame:
    names = ", ".join(
        f"{k} {'boolean' if isinstance(v, bool) else 'long' if isinstance(v, (int, np.integer)) else 'string'}"
        for k, v in cols.items())
    return spark.createDataFrame([tuple(cols.values())], names)


# ---------------------------------------------------------------------------
# RSQF queries
# ---------------------------------------------------------------------------

def q_rsqf_membership(spark, sf_dir):
    """Zero false negatives: every inserted doc_id probes as contained."""
    docs = _hashed(load(spark, sf_dir, "documents"), "doc_id")
    n = table_rows(sf_dir, "documents")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    blob = build_sketch(docs, spec, fan_in=8)
    probed = probe_hashes(docs.select("h"), blob, "h", out_col="c", as_bool=True)
    return (probed.agg(F.count("*").alias("n_probed"),
                       F.sum(F.col("c").cast("long")).alias("n_contained")))


def q_rsqf_fpr(spark, sf_dir):
    """Observed FPR over 50k absent keys <= configured max error ratio."""
    docs = _hashed(load(spark, sf_dir, "documents"), "doc_id")
    n = table_rows(sf_dir, "documents")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    blob = build_sketch(docs, spec, fan_in=8)
    sk = sketches.loads(blob)
    # explicit numPartitions: the default range parallelism fans 50k rows
    # over defaultParallelism tiny python tasks — pure scheduling overhead
    absent = spark.range(10**12, 10**12 + 50_000, 1, 8).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    hits = probe_hashes(absent, blob, "h", out_col="c", as_bool=True) \
        .where("c").count()
    ok = hits / 50_000 <= sk.filter.max_error_ratio()
    # n_false_positives carries the DEGREE of the bound, not just the
    # boolean: the build is merge-order invariant and the probe set fixed,
    # so the count is engine-deterministic and pinned in the oracle — a
    # drift of even one false positive flips the gate, where the boolean
    # alone only flips at the bound cliff.
    return _one_row(spark, n_probes=50_000, n_false_positives=int(hits),
                    fpr_within_bound=bool(ok))


def q_rsqf_counting(spark, sf_dir):
    """Counting semantics: estimate >= true multiplicity for every key,
    AND the sharded-table count path returns the single-filter estimates
    exactly (a fingerprint's copies share its prefix, so multiplicity is
    shard-local — dist/sharded.count_sharded)."""
    from .dist.sharded import build_sharded_filter, count_sharded

    orders = _hashed(load(spark, sf_dir, "orders"), "o_custkey")
    n = table_rows(sf_dir, "orders")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.001), "hash_col", "h")
    blob = build_sketch(orders, spec, fan_in=8)
    truth = orders.groupBy("o_custkey", "h").agg(F.count("*").alias("true_cnt"))
    est = probe_hashes(truth, blob, "h", out_col="est")
    sharded = count_sharded(truth, "h",
                            build_sharded_filter(orders, spec, n_shards=16),
                            16, spec).withColumnRenamed("est", "est_sh")
    both = est.join(sharded, "h")
    return both.agg(
        F.count("*").alias("n_keys"),
        F.sum((F.col("est") >= F.col("true_cnt")).cast("long")).alias("n_est_ge_true"),
        (F.sum((F.col("est_sh") == F.col("est")).cast("long")) == F.count("*"))
        .alias("sharded_counts_match"))


def q_rsqf_merge_invariance(spark, sf_dir):
    """Permuted tree-merge orders give bit-identical filters."""
    # project before the exchange (guide §2.3): only the hash column
    # belongs in the 8-way shuffle feeding the partial build
    li = _hashed(load(spark, sf_dir, "lineitem"), "l_orderkey") \
        .select("h").repartition(8)
    n = table_rows(sf_dir, "lineitem")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    parts = [r["payload"] for r in _partials_per_partition(li, spec).collect()]
    a = merge_payloads(parts)
    b = merge_payloads(reversed(parts))
    identical = a.to_bytes() == b.to_bytes()
    return _one_row(spark, n_fps=len(a.filter), identical=bool(identical))


def q_rsqf_growth(spark, sf_dir):
    """Resizeable filter grows through capacity doublings, keeps all items.

    Also gates the trivial accessors on the grown filter (reference
    src/lib.rs capacity/clear semantics): ``capacity()`` must cover the
    stored items (growth bookkeeping), ``capacity_resizeable()`` bounds it,
    and ``clear()`` empties the filter so a previously-contained key
    probes absent.
    """
    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(256, 2 * n), fp_rate=0.01,
                                   resizeable_from=64), "hash_col", "h")
    blob = build_sketch(ev, spec, fan_in=8)
    sk = sketches.loads(blob)
    contained = probe_hashes(ev.select("h"), blob, "h", out_col="c", as_bool=True) \
        .agg(F.sum(F.col("c").cast("long")).alias("n")).collect()[0]["n"]
    f = sk.filter
    len_after = len(f)
    cap_ok = (f.capacity() >= len_after
              and f.capacity_resizeable() >= f.capacity()
              and f.memory_usage() > 0)
    # one INSERTED hash for the clear_ok probe, via the Spark-bit-identical
    # numpy XXH64 over a parquet row read driver-side — the round-5
    # .first() was a whole Spark job for one scalar (any inserted event's
    # hash serves: every event row is in the filter)
    from .hashing import xxh64_u64

    first = first_parquet_row(sf_dir, "events", ["event_id"])
    ev0 = np.array([first.column(0)[0].as_py()], dtype=np.int64)
    h0 = xxh64_u64(ev0.view(np.uint64))[0]
    had = bool(f.contains_hashes(np.array([h0], dtype=np.uint64))[0])
    f.clear()
    gone = not bool(f.contains_hashes(np.array([h0], dtype=np.uint64))[0])
    clear_ok = had and f.is_empty and len(f) == 0 and gone
    return _one_row(spark, len_after=len_after, n_contained=int(contained),
                    cap_ok=bool(cap_ok), clear_ok=bool(clear_ok))


def q_rsqf_remove(spark, sf_dir):
    """Delete one-third of inserted keys; the rest remain contained.

    Fully distributed (reference remove semantics src/lib.rs:1056-1129,
    tests src/lib.rs:1687-1754): the filter lives as a sharded table,
    retractions shuffle to their fingerprint shard (dist/sharded.py
    remove_sharded), and the survivors are probed through the same
    co-partitioned group join as the build. No data row ever reaches the
    driver — only per-shard aggregates.
    """
    from .dist.sharded import (build_sharded_filter, probe_sharded_chunks,
                               remove_sharded)

    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.001),
                      "hash_col", "h")
    n_shards = 16
    filt = build_sharded_filter(ev, spec, n_shards=n_shards)
    after = remove_sharded(filt, ev.where("event_id % 3 = 0"), "h",
                           n_shards, spec).cache()
    keep = ev.where("event_id % 3 != 0")
    # sorted-chunk probe (same per-shard counts as the row probe, but the
    # shuffle ships one binary chunk per (task, shard) instead of a row
    # per survivor — guide 2.3 "shuffle fewer bytes")
    stats = (probe_sharded_chunks(keep, spec, after, n_shards, spec)
             .agg(F.sum("n_contained").alias("n")).collect()[0])
    len_after = after.agg(F.sum("n_fps").alias("n")).collect()[0]["n"]
    after.unpersist()
    return _one_row(spark, len_after=int(len_after),
                    n_remaining_contained=int(stats["n"]))


def q_rsqf_fingerprint_size(spark, sf_dir):
    """with_fingerprint_size roundtrip at every supported width class.

    Mirrors reference test src/lib.rs:1791-1819: inserting hashes as
    DUPLICATED fingerprints into ``with_fingerprint_size(1, bits)`` yields
    exactly the sorted multiset of the mask-truncated hashes, for widths
    {7, 16, 24, 31, 49, 64}. Built through the distributed partial/merge
    path (same kernels as every other filter), on a deterministic 50-key
    slice (the width-7 filter is capacity-bounded by construction, as in
    the reference test which uses capacity 1).
    """
    import pyarrow as pa

    widths = (7, 16, 24, 31, 49, 64)
    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    hs = np.array([r["h"] for r in
                   ev.orderBy("event_id").limit(50).select("h").collect()],
                  dtype=np.int64).view(np.uint64)
    base = spark.createDataFrame([(int(h),) for h in hs.view(np.int64)],
                                 "h long").repartition(4)

    # ONE distributed pass builds a partial filter per (partition, width);
    # one groupBy merges each width — 2 jobs instead of 6 tree merges
    def build_all(batches):
        per = {w: sketches.create("rsqf", capacity=1, fingerprint_bits=w)
               for w in widths}
        for batch in batches:
            if batch.num_rows:
                h = (batch.column("h").to_numpy(zero_copy_only=False)
                     .astype(np.int64).view(np.uint64))
                for sk in per.values():
                    sk.update_hashes(h)
        yield pa.record_batch(
            [pa.array(list(widths), pa.int32()),
             pa.array([per[w].to_bytes() for w in widths], pa.binary())],
            names=["w", "payload"])

    import pandas as pd

    # no type hints: PySpark warns on every call when it cannot resolve them
    def merge_width(key, pdf):
        acc = merge_payloads(pdf["payload"])
        return pd.DataFrame({"w": [int(key[0])], "payload": [acc.to_bytes()]})

    merged = (base.mapInArrow(build_all, "w int, payload binary")
              .groupBy("w").applyInPandas(merge_width, "w int, payload binary")
              .collect())
    rows = []
    for r in sorted(merged, key=lambda r: r["w"]):
        bits = int(r["w"])
        f = sketches.loads(bytes(r["payload"])).filter
        mask = np.uint64((1 << bits) - 1 if bits < 64 else 0xFFFFFFFFFFFFFFFF)
        expect = np.sort(hs & mask)
        ok = (np.array_equal(f.fingerprints(), expect)
              and f.fingerprint_size() == bits)
        rows.append((bits, len(f), bool(ok)))
    return spark.createDataFrame(
        rows, "fp_bits long, n_fps long, roundtrip_ok boolean")


def q_rsqf_shrink(spark, sf_dir):
    """shrink_to_fit halves the block count while keeping every item and
    the fingerprint size (reference src/lib.rs:1311-1328): build at 4x
    headroom so len <= capacity/2, shrink one step, re-probe everything."""
    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(256, 4 * n), fp_rate=0.01),
                      "hash_col", "h")
    sk = sketches.loads(build_sketch(ev, spec, fan_in=8))
    blocks0, fs0 = sk.filter.total_blocks(), sk.filter.fingerprint_size()
    sk.filter.shrink_to_fit()
    contained = probe_hashes(ev.select("h"), sk.to_bytes(), "h",
                             out_col="c", as_bool=True) \
        .agg(F.sum(F.col("c").cast("long")).alias("n")).collect()[0]["n"]
    return _one_row(spark,
                    n_fps=len(sk.filter),
                    blocks_halved=bool(sk.filter.total_blocks() * 2 == blocks0),
                    fp_size_invariant=bool(sk.filter.fingerprint_size() == fs0),
                    n_contained=int(contained))


def q_rsqf_serde_roundtrip(spark, sf_dir):
    """Blocked physical layout encode -> decode is lossless."""
    docs = _hashed(load(spark, sf_dir, "documents"), "doc_id")
    n = table_rows(sf_dir, "documents")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    blob = build_sketch(docs, spec, fan_in=8)
    sk = sketches.loads(blob)
    back = sketches.loads(sk.to_blocks_bytes())  # physical blocked layout
    ok = (np.array_equal(back.filter.fingerprints(), sk.filter.fingerprints())
          and back.to_blocks_bytes() == sk.to_blocks_bytes())
    return _one_row(spark, n_fps=len(sk.filter), roundtrip_ok=bool(ok))


def q_rsqf_reference_serde(spark, sf_dir):
    """Reference serde blob interop (decision record in interop.py):
    the distributed filter roundtrips losslessly through the Rust struct's
    bincode-v1 and JSON carriers (fields b/l/q/r/g, src/lib.rs:84-106)."""
    from . import interop

    docs = _hashed(load(spark, sf_dir, "documents"), "doc_id")
    n = table_rows(sf_dir, "documents")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    f = sketches.loads(build_sketch(docs, spec, fan_in=8)).filter
    via_bin = interop.from_reference_bincode(interop.to_reference_bincode(f))
    via_json = interop.from_reference_json(interop.to_reference_json(f))

    def same(g):
        return (g.qbits == f.qbits and g.rbits == f.rbits
                and g.max_qbits == f.max_qbits
                and np.array_equal(g.fingerprints(), f.fingerprints()))

    return _one_row(spark, n_fps=len(f),
                    bincode_ok=bool(same(via_bin)),
                    json_ok=bool(same(via_json)))


def q_rsqf_sharded(spark, sf_dir):
    """Range-sharded filter == single-blob filter; sharded probe finds all.

    The 100TB layout (dist/sharded.py): filter partitioned by fingerprint
    prefix into a table of shards; probe via co-partitioned group join.
    """
    from .dist.sharded import (build_sharded_filter, probe_sharded_chunks,
                               sharded_to_single)

    from concurrent.futures import ThreadPoolExecutor

    li = _hashed(load(spark, sf_dir, "lineitem"), "l_orderkey")
    n = table_rows(sf_dir, "lineitem")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    n_shards = 16
    # cache + materialize the shard table ONCE: both consumers below
    # (parity collapse and probe) would otherwise re-run the whole build;
    # then overlap the independent driver jobs (guide §2.6) so the
    # single-blob build backfills cores the sharded consumers leave idle
    filter_df = build_sharded_filter(li, spec, n_shards=n_shards).cache()
    try:
        filter_df.count()
        with ThreadPoolExecutor(2) as pool:
            fut_single = pool.submit(
                lambda: sketches.loads(build_sketch(li, spec, fan_in=8)))
            fut_stats = pool.submit(
                lambda: probe_sharded_chunks(li, spec, filter_df, n_shards,
                                             spec)
                .groupBy().sum("n_probed", "n_contained").collect()[0])
            merged = sketches.loads(sharded_to_single(filter_df, spec, n_shards))
            single = fut_single.result()
            stats = fut_stats.result()
    finally:
        filter_df.unpersist()
    identical = bool(np.array_equal(merged.filter.fingerprints(),
                                    single.filter.fingerprints()))
    return _one_row(spark, n_probed=int(stats[0]), n_contained=int(stats[1]),
                    sharded_equals_single=identical)


def q_rsqf_sharded_insert(spark, sf_dir):
    """Incremental ingest into an existing sharded filter table: inserting
    day-2 data into day-1's table is BIT-EQUAL to rebuilding from the
    union (canonical-form merge), and every key from both days probes as
    contained. The daily-append operation at warehouse scale."""
    from .dist.sharded import (build_sharded_filter, insert_sharded,
                               probe_sharded_chunks, sharded_to_single)

    li = _hashed(load(spark, sf_dir, "lineitem"), "l_orderkey")
    n = table_rows(sf_dir, "lineitem")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01),
                      "hash_col", "h")
    from concurrent.futures import ThreadPoolExecutor

    n_shards = 16
    day1 = li.where("l_orderkey % 2 = 0")
    day2 = li.where("l_orderkey % 2 != 0")
    updated = insert_sharded(build_sharded_filter(day1, spec, n_shards),
                             day2, spec, n_shards, spec).cache()
    try:
        updated.count()  # materialize once; the consumers below reuse it
        with ThreadPoolExecutor(2) as pool:  # overlap independent jobs (§2.6)
            fut_rebuild = pool.submit(
                lambda: sketches.loads(build_sketch(li, spec, fan_in=8)))
            fut_stats = pool.submit(
                lambda: probe_sharded_chunks(li, spec, updated, n_shards,
                                             spec)
                .groupBy().sum("n_probed", "n_contained").collect()[0])
            a = sketches.loads(sharded_to_single(updated, spec, n_shards))
            b = fut_rebuild.result()  # one-shot rebuild
            stats = fut_stats.result()
    finally:
        updated.unpersist()
    identical = bool(np.array_equal(a.filter.fingerprints(),
                                    b.filter.fingerprints()))
    return _one_row(spark, n_probed=int(stats[0]), n_contained=int(stats[1]),
                    incremental_equals_rebuild=identical)


def q_rsqf_sharded_skew(spark, sf_dir):
    """Hot-shard splitting under adversarial fingerprint-prefix skew.

    Half of all fingerprints are engineered into ONE shard of 16 (biased
    prefix, distinct low bits). The skew-resistant build (dist/sharded.py
    build_sharded_filter_split) plans quantile split points from bounded
    per-chunk samples — pure driver-side metadata — so every table row stays
    under the per-task bound; the union of sub-rows is bit-equal to the
    single-blob filter and probes find every inserted fingerprint.
    """
    from .dist.sharded import (_fp_meta, build_sharded_filter_split,
                               probe_sharded_chunks, sharded_to_single)

    ev = load(spark, sf_dir, "events")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=2 * n, fp_rate=0.01), "hash_col", "h")
    _, _, fs = _fp_meta(spec)
    n_shards = 16
    shift = fs - 4
    low_mask = (1 << shift) - 1
    uniform = ev.select(F.xxhash64(F.col("event_id").cast("long")).alias("h"))
    hot = ev.select(
        (F.lit(3).cast("long") * F.lit(1 << shift)
         + F.xxhash64((F.col("event_id") + F.lit(10**9)).cast("long"))
         .bitwiseAND(F.lit(low_mask))).alias("h"))
    from concurrent.futures import ThreadPoolExecutor

    df = fan_out(uniform.union(hot)).cache()
    cap = max(64, n // 3)
    try:
        filt, directory = build_sharded_filter_split(df, spec,
                                                     n_shards=n_shards,
                                                     max_fps_per_row=cap)
    except Exception:
        df.unpersist()
        raise
    filt = filt.cache()  # read by the three consumers below
    try:
        # The split build's planning pass materialized df into the cache,
        # so the single-blob build and the probe below reuse it;
        # the three consumers are independent driver jobs — overlap them
        # (guide §2.6).
        with ThreadPoolExecutor(2) as pool:
            fut_single = pool.submit(
                lambda: sketches.loads(build_sketch(df, spec, fan_in=8)))
            fut_stats = pool.submit(
                lambda: (probe_sharded_chunks(df, spec, filt, directory, spec)
                         .groupBy().sum("n_probed", "n_contained")
                         .collect()[0]))
            shape = filt.agg(F.max("n_fps").alias("mx"),
                             F.count("*").alias("rows")).collect()[0]
            merged = sketches.loads(sharded_to_single(filt, spec, directory))
            single = fut_single.result()
            stats = fut_stats.result()
        identical = bool(np.array_equal(merged.filter.fingerprints(),
                                        single.filter.fingerprints()))
    finally:
        filt.unpersist()
        df.unpersist()
    return _one_row(spark,
                    n_probed=int(stats[0]), n_contained=int(stats[1]),
                    hot_shard_split=bool(shape["rows"] > n_shards + 1),
                    rows_bounded=bool(shape["mx"] <= 1.5 * cap),
                    split_equals_single=identical)


def q_rsqf_split_remove_shrink(spark, sf_dir):
    """Distributed remove + shrink through the SPLIT shard layout.

    Reference remove semantics src/lib.rs:1056-1129 and shrink
    src/lib.rs:1311-1328 (tests src/lib.rs:1687-1754), applied to the
    skew-resistant split table: build a split filter over events at 4x
    headroom, retract every ``event_id % 3 == 0`` key through the directory
    (``remove_sharded`` — retractions shuffle as sorted chunk rows,
    never through the driver), then run the distributed shrink maintenance
    pass (``shrink_sharded``). Asserts, fully distributed except the
    metadata-scale parity collapse:

    - the shrunk split table's fingerprint union is IDENTICAL to the
      (already-gated) uniform-table ``remove_sharded`` result — split remove
      == sharded remove == single-node remove, transitively;
    - shrink reclaimed at-rest bytes while keeping every fingerprint;
    - every surviving key still probes as contained through the split path.
    """
    from .dist.sharded import (build_sharded_filter, build_sharded_filter_split,
                               probe_sharded, remove_sharded,
                               sharded_to_single, shrink_sharded)

    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(256, 4 * n), fp_rate=0.01),
                      "hash_col", "h")
    n_shards = 16
    removals = ev.where("event_id % 3 = 0")
    keep = ev.where("event_id % 3 != 0")

    # force real splits so the remove path exercises the directory
    # routing: uniform hashes put ~n/16 fingerprints in each of the 16
    # shards, so the bound must sit BELOW n/16 (the round-3 max(64, n//8)
    # never split anything and the gate silently degenerated to the
    # unsplit case); really_split asserts the multi-row layout happened
    from concurrent.futures import ThreadPoolExecutor

    # parity reference: the unsplit distributed remove (itself gated
    # bit-equal to the single-node filter by rsqf_remove/rsqf_sharded).
    # Independent of the split pipeline — run it on a driver thread so its
    # jobs backfill the cluster while the split branch runs (guide §2.6).
    def ref_branch():
        ref = remove_sharded(build_sharded_filter(ev, spec, n_shards=n_shards),
                             removals, "h", n_shards, spec)
        return sketches.loads(sharded_to_single(ref, spec, n_shards))

    pool = ThreadPoolExecutor(2)
    fut_ref = pool.submit(ref_branch)
    try:
        filt, directory = build_sharded_filter_split(
            fan_out(ev), spec, n_shards=n_shards,
            max_fps_per_row=max(16, n // 32))
    except Exception:
        pool.shutdown(wait=False)
        raise
    after = shrunk = None
    filt = filt.cache()  # counted, then read by the remove
    try:
        n_split_rows = filt.count()
        after = remove_sharded(filt, removals, "h", directory, spec).cache()
        bytes_before = after.agg(F.sum(F.length("payload")).alias("b")) \
            .collect()[0]["b"]
        shrunk = shrink_sharded(after).cache()
        srow = shrunk.agg(F.sum(F.length("payload")).alias("b"),
                          F.sum("n_fps").alias("n")).collect()[0]
        bytes_after, len_after = srow["b"], srow["n"]

        # probe and parity collapse both read the cached shrunk table
        # (materialized by the aggregate above) — overlap them too
        fut_stats = pool.submit(
            lambda: (probe_sharded(keep, "h", shrunk, directory, spec)
                     .agg(F.sum("n_contained").alias("n")).collect()[0]))
        a = sketches.loads(sharded_to_single(shrunk, spec, directory))
        b = fut_ref.result()
        identical = bool(np.array_equal(a.filter.fingerprints(),
                                        b.filter.fingerprints()))
        stats = fut_stats.result()
    finally:
        for df_ in (filt, after, shrunk):
            if df_ is not None:
                df_.unpersist()
        pool.shutdown(wait=True)
    return _one_row(spark, len_after=int(len_after),
                    n_remaining_contained=int(stats["n"]),
                    really_split=bool(n_split_rows > n_shards),
                    split_remove_equals_sharded=identical,
                    shrink_reclaimed_bytes=bool(bytes_after < bytes_before))


# ---------------------------------------------------------------------------
# sibling sketches
# ---------------------------------------------------------------------------

def q_hll_distinct(spark, sf_dir):
    orders = _hashed(load(spark, sf_dir, "orders"), "o_custkey")
    blob = build_sketch(orders, SketchSpec("hll", dict(p=14), "hash_col", "h"), fan_in=8)
    sk = sketches.loads(blob)
    exact = orders.select(F.countDistinct("o_custkey").alias("n")).collect()[0]["n"]
    ok = abs(sk.estimate() - exact) <= 4 * sk.relative_sd() * exact + 2
    # hll_estimate carries the DEGREE: HLL register merge is max, hence
    # merge-order invariant, so the rounded estimate is engine-
    # deterministic and pinned per-corpus in the oracle (same pattern as
    # rsqf_fpr's n_false_positives)
    return _one_row(spark, exact_distinct=int(exact),
                    hll_estimate=int(round(sk.estimate())),
                    hll_within_bound=bool(ok))


def q_cms_heavy_hitters(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn("h", F.xxhash64("source"))
    n = table_rows(sf_dir, "documents")
    blob = build_sketch(docs, SketchSpec("cms", dict(eps=0.001, delta=0.01),
                                         "hash_col", "h"), fan_in=8)
    truth = docs.groupBy("source", "h").agg(F.count("*").alias("exact_cnt"))
    est = probe_hashes(truth, blob, "h", out_col="est")
    eps_n = sketches.loads(blob).eps() * n
    # est is carried as an exact DEGREE column: CMS updates are additive,
    # hence merge-order invariant and engine-deterministic; at these
    # corpus sizes the estimate has zero collision error, so the oracle
    # mirrors it as count(*) — any future collision regression flips the
    # gate by value, not just at the eps*n bound cliff
    return (est.withColumn("est_within_bound",
                           (F.col("est") >= F.col("exact_cnt"))
                           & (F.col("est") <= F.col("exact_cnt") + F.lit(float(eps_n)) + F.lit(1.0)))
            .select("source", "exact_cnt", F.col("est"),
                    "est_within_bound"))


def _quantile_check(spark, df, col, kind, params, tol_millis):
    # project to the one value column BEFORE the fan-out exchange (guide
    # §2.3: an explicit select ahead of the repartition keeps the shuffle
    # from carrying every table column into the build)
    vals = df.select(col)
    spec = SketchSpec(kind, params, "values", col)
    blob = build_sketch(fan_out(vals), spec, fan_in=8)
    sk = sketches.loads(blob)
    pcts = [10, 25, 50, 75, 90]
    ests = {p: float(sk.quantile(p / 100.0)) for p in pcts}
    # all exact ranks in ONE scan: conditional sums per estimate — over the
    # RAW scan (the rank aggregate needs no partitioning, so re-running the
    # fan-out shuffle for it was pure waste)
    aggs = [F.count("*").alias("n")] + [
        F.sum((F.col(col) <= F.lit(ests[p])).cast("long")).alias(f"r{p}")
        for p in pcts]
    row = vals.agg(*aggs).collect()[0]
    n = row["n"]
    rows = [(p, bool(abs(row[f"r{p}"] / n - p / 100.0) * 1000 <= tol_millis))
            for p in pcts]
    return spark.createDataFrame(rows, "pct long, rank_within_bound boolean")


def q_kll_quantiles(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return _quantile_check(spark, orders, "o_totalprice", "kll", dict(k=200), 25)


def q_tdigest_quantiles(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return _quantile_check(spark, li, "l_extendedprice", "tdigest",
                           dict(compression=200), 25)


def q_bloom_membership(spark, sf_dir):
    part = _hashed(load(spark, sf_dir, "part"), "p_partkey")
    n = table_rows(sf_dir, "part")
    blob = build_sketch(part, SketchSpec("bloom", dict(capacity=max(64, n), fp_rate=0.01),
                                         "hash_col", "h"), fan_in=8)
    li = _hashed(load(spark, sf_dir, "lineitem"), "l_partkey")
    probed = probe_hashes(li.select("h"), blob, "h", out_col="c", as_bool=True)
    return probed.agg(F.count("*").alias("n_probed"),
                      F.sum(F.col("c").cast("long")).alias("n_contained"))


def q_ngram_sketch_tokens(spark, sf_dir):
    """RSQF over word-3-gram token hashes of the documents table.

    Tokens = xxhash64 of each word (JVM); n-gram chain happens in the Arrow
    kernel — the flagship corpus pipeline on the shared test tables.
    """
    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens", F.expr("transform(split(text, ' '), w -> xxhash64(w))"))
    total = docs.select(F.sum(F.greatest(F.size("tokens") - F.lit(2), F.lit(0)))
                        .alias("n")).collect()[0]["n"]
    spec = SketchSpec("rsqf", dict(capacity=max(64, int(total)), fp_rate=0.01),
                      mode="tokens_ngram", col="tokens", ngram_n=3)
    blob = build_sketch(docs, spec, fan_in=8)
    sk = sketches.loads(blob)
    return _one_row(spark, n_ngrams=len(sk.filter), matches_exact=bool(len(sk.filter) == total))


# ---------------------------------------------------------------------------
# dedup / text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    deduped = dedup.exact_dedup(docs, ["text"])
    return deduped.agg(F.count("*").alias("n_unique_text"),
                       F.sum("n_copies").alias("n_docs"))


# The dedup gate rows bound their corpus to doc_id < _DEDUP_GATE_DOCS on
# BOTH sides (Spark and the DuckDB oracle). Below sf0.1 the filter is a
# no-op (doc_id domain is 0..499), so small-SF results are unchanged; at
# sf0.1 it keeps the EXACT all-pairs DuckDB oracle tractable (~1 min vs
# grinding on 5000 docs), buying a third fully-gated scale point. Engine
# scale evidence lives in bench.py / scripts/dedup_stress.py, not here.
_DEDUP_GATE_DOCS = 1000


def q_dedup_minhash(spark, sf_dir):
    docs = fan_out(load(spark, sf_dir, "documents")
                   .where(F.col("doc_id") < _DEDUP_GATE_DOCS))
    return dedup.minhash_dedup_pairs(docs).select("doc_a", "doc_b", "jacc_millis")


def q_dedup_ngram_jaccard(spark, sf_dir, max_df: int = 500):
    """Exact n-gram Jaccard >= 0.8 as a pure join + count-aggregation plan
    (no minhash, no pair materialization, no string arrays in any shuffle) —
    see :func:`qfilter_spark.functions.dedup.ngram_jaccard_pairs`."""
    docs = fan_out(load(spark, sf_dir, "documents")
                   .where(F.col("doc_id") < _DEDUP_GATE_DOCS))
    return dedup.ngram_jaccard_pairs(docs, threshold_millis=800, max_df=max_df)


def q_dedup_simhash(spark, sf_dir):
    """SimHash-close (hamming <= 20) near-dup pairs, verified at J >= 0.8.

    Empirical hamming for J>=0.8 pairs on this corpus is 0-12; the 20-bit
    cutoff keeps recall at 1 with margin while still pruning ~all of the
    non-near-dup candidate space (expected hamming for unrelated docs ~32).
    """
    docs = fan_out(load(spark, sf_dir, "documents")
                   .where(F.col("doc_id") < _DEDUP_GATE_DOCS))
    # ONE shingle->signature->candidate pipeline feeds both the hamming
    # filter and the exact-Jaccard verify (the round-2 version ran the
    # whole pipeline twice via simhash_near_pairs + minhash_dedup_pairs)
    hashed = dedup.with_shingle_hashes(
        dedup.with_shingles(docs.select("doc_id", "text")))
    sig = dedup.minhash_signatures(hashed)
    cand = dedup.lsh_candidate_pairs(sig)
    # (sig/hashed are deliberately NOT cached: the returned plan is lazy,
    # so a .cache() here would pin executor memory for the session, and
    # re-execution of the branches is cheaper than a lifetime pin at gate
    # scale; a warehouse run would checkpoint sig to a table instead)
    sim = dedup.simhash_filter_pairs(cand, sig, max_hamming=20) \
        .select("doc_a", "doc_b")
    verified = (dedup.exact_jaccard_pairs(cand, hashed,
                                          shingle_col="shingle_hashes")
                .where(F.col("jacc_millis") >= 800).select("doc_a", "doc_b"))
    return sim.join(verified, ["doc_a", "doc_b"]).select("doc_a", "doc_b")


def q_langid(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (docs.withColumn("lang_pred", T.langid_pred(F.col("text")))
            .groupBy("lang_pred").agg(F.count("*").alias("n_docs")))


def q_text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (docs
            .withColumn("bucket", T.quality_bucket(F.col("text")))
            .withColumn("toks", T.ws_token_count(F.col("text")))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("toks").alias("sum_tokens"),
                 F.sum(T.punct_ratio_millis(F.col("text")))
                 .alias("sum_punct_millis")))


def q_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = T.ws_token_count(F.col("text"))
    return docs.agg(F.count("*").alias("n_docs"),
                    F.sum(toks).alias("total_tokens"),
                    F.max(toks).alias("max_tokens"),
                    F.sum(T.bpe_token_count(F.col("text"))).alias("total_bpe_tokens"),
                    F.sum(T.stopword_count(F.col("text"))).alias("total_stopwords"),
                    F.sum(T.avg_word_len_millis(F.col("text"))).alias("sum_awl_millis"))


def q_doc_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (docs.withColumn("fp", F.xxhash64("text"))
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("fp").alias("n_distinct_fp")))


def q_doc_fingerprint_winnow(spark, sf_dir, n: int = 3, w: int = 4):
    """Winnowing document fingerprints (SIGMOD'03 rolling-hash scheme).

    All fingerprint math runs as JVM expressions (functions/winnow.py);
    the query additionally asserts, exactly and distributively:
    - the JVM xxhash64 lambda-chain gram hashes are BIT-IDENTICAL to the
      numpy n-gram kernel (count + XOR-fold compared across the two
      independent implementations);
    - winnow selection bounds hold per doc (1 <= |fps| <= g - w + 1 for
      g >= w; selected values are a subset of the doc's gram hashes).
    n_grams is mirrored exactly by the DuckDB oracle's token arithmetic.
    """
    import pyarrow as pa

    from .functions import winnow
    from .functions.ngrams import flat_from_arrow, ngram_hashes

    docs = load(spark, sf_dir, "documents")
    base = (docs.select("doc_id", winnow.token_hash_col("text").alias("tk"))
            .withColumn("grams", winnow.gram_hash_col("tk", n))
            .withColumn("winnowed", winnow.winnow_col("grams", w))).cache()

    from concurrent.futures import ThreadPoolExecutor

    bounds_bad = (
        ((F.size("grams") >= w)
         & ((F.size("winnowed") < 1)
            | (F.size("winnowed") > F.size("grams") - F.lit(w) + 1)))
        | ((F.size("grams") > 0) & (F.size("grams") < w)
           & (F.size("winnowed") != 1))
        | (F.size(F.array_except("winnowed", "grams")) > 0))
    def kernel_stats(batches):
        cnt, xr = 0, np.uint64(0)
        for batch in batches:
            flat, offsets = flat_from_arrow(batch.column("tk"))
            g = ngram_hashes(flat, offsets, n)
            cnt += int(g.size)
            if g.size:
                xr ^= np.bitwise_xor.reduce(g)
        yield pa.record_batch([pa.array([cnt], pa.int64()),
                               pa.array([int(np.int64(xr))], pa.int64())],
                              names=["cnt", "xr"])

    # the JVM aggregate and the numpy-kernel aggregate are independent
    # consumers of the cached base — overlap them (guide §2.6; Spark's
    # block-level cache locks dedup the shared compute)
    try:
        with ThreadPoolExecutor(1) as pool:
            fut_jvm = pool.submit(lambda: base.agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("grams")).alias("n_grams"),
                F.expr("bit_xor(aggregate(grams, 0L, (a, x) -> a ^ x))")
                .alias("xr"),
                F.sum(bounds_bad.cast("long")).alias("n_bad")).collect()[0])
            k = (base.select("tk")
                 .mapInArrow(kernel_stats, "cnt long, xr long")
                 .agg(F.sum("cnt").alias("cnt"),
                      F.expr("bit_xor(xr)").alias("xr")).collect()[0])
            jvm = fut_jvm.result()
    finally:
        base.unpersist()
    parity = (int(jvm["n_grams"]) == int(k["cnt"])
              and int(jvm["xr"] or 0) == int(k["xr"] or 0))
    return _one_row(spark, n_docs=int(jvm["n_docs"]),
                    n_grams=int(jvm["n_grams"]),
                    bounds_ok=bool(jvm["n_bad"] == 0),
                    jvm_matches_kernel=bool(parity))


def q_topk_tokens(spark, sf_dir):
    """Misra-Gries heavy hitters over document words.

    The distributed top-k summary must track every exact top-10 word
    (MG completeness: true count > n/k is always tracked) with a
    lower-bound estimate within its tracked error.
    """
    from concurrent.futures import ThreadPoolExecutor

    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")) \
        .withColumn("h", F.xxhash64("word"))
    # summary build and exact top-10 are independent scans — overlap (§2.6)
    with ThreadPoolExecutor(1) as pool:
        fut_blob = pool.submit(
            lambda: build_sketch(words,
                                 SketchSpec("topk", dict(k=256),
                                            "hash_col", "h"), fan_in=8))
        exact10 = (words.groupBy("word", "h").agg(F.count("*").alias("cnt"))
                   .orderBy(F.desc("cnt"), F.asc("word")).limit(10).collect())
        blob = fut_blob.result()
    sk = sketches.loads(blob)
    hs = np.array([r["h"] for r in exact10], dtype=np.int64).view(np.uint64)
    est = sk.estimate_hashes(hs)
    rows = [(r["word"], int(r["cnt"]),
             bool(e > 0 and e <= r["cnt"] <= e + sk.err))
            for r, e in zip(exact10, est)]
    return spark.createDataFrame(rows, "word string, cnt long, tracked boolean")


def q_hll_per_source(spark, sf_dir):
    """Per-group sketches (grouped build path: each input task folds the
    sources it holds, so the hot source is split without a shuffle of raw
    rows): one HLL per documents.source, checked against exact per-source
    distincts."""
    from .dist import build_grouped_sketches

    from concurrent.futures import ThreadPoolExecutor

    docs = load(spark, sf_dir, "documents").withColumn("h", F.xxhash64("doc_id"))
    spec = SketchSpec("hll", dict(p=14), "hash_col", "h")
    per_source = build_grouped_sketches(docs, "source", spec)
    # grouped build and exact distincts are independent scans — overlap
    with ThreadPoolExecutor(1) as pool:
        fut_rows = pool.submit(per_source.collect)
        exact = {r["source"]: r["n"] for r in
                 docs.groupBy("source")
                 .agg(F.countDistinct("doc_id").alias("n")).collect()}
        rows = fut_rows.result()
    out = []
    for r in rows:
        sk = sketches.loads(bytes(r["payload"]))
        est, rsd = sk.estimate(), sk.relative_sd()  # bound from the sketch
        n = exact[r["source"]]
        # hll_estimate: per-source degree, deterministic (register max is
        # merge-order invariant, per-task partials included) and mirrored in
        # the oracle (== exact at the gate SFs, pinned VALUES at sf0.1)
        out.append((r["source"], int(n), int(round(est)),
                    bool(abs(est - n) <= 4 * rsd * n + 2)))
    return spark.createDataFrame(
        out, "source string, exact_distinct long, hll_estimate long, "
             "hll_within_bound boolean")


def q_merge_lineage_resume(spark, sf_dir):
    """Checkpointed tree-merge lineage + resume (north_rule resumability):
    wipe the final rounds, resume from the last complete one, compare."""
    import shutil
    import tempfile

    from .dist import tree_merge
    from .dist.checkpoint import MergeLineage, resume_tree_merge
    import os as _os

    # project to the hash BEFORE the 8-way exchange (guide §2.3) — the
    # round-5 shape shuffled every lineitem column into the partial build
    li = _hashed(load(spark, sf_dir, "lineitem"), "l_orderkey") \
        .select("h").repartition(8)
    n = table_rows(sf_dir, "lineitem")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    with tempfile.TemporaryDirectory() as d:
        ckpt = _os.path.join(d, "lineage")
        lineage = MergeLineage(spark, ckpt)
        blob = tree_merge(_partials_per_partition(li, spec), fan_in=2,
                          lineage=lineage, n_partials=8)
        rounds = lineage.complete_rounds()
        for rnd in rounds[2:]:  # simulate a crash after round 1
            shutil.rmtree(_os.path.join(ckpt, f"round={rnd}"))
        resumed = resume_tree_merge(spark, ckpt, fan_in=2)
    return _one_row(spark, n_fps=len(sketches.loads(blob).filter),
                    n_rounds=int(len(rounds)),
                    resume_identical=bool(resumed == blob))


def q_streaming_sketch(spark, sf_dir):
    """Micro-batch sketch maintenance (Structured Streaming foreachBatch
    path driven deterministically over the events table, with a replay)."""
    import tempfile

    from .dist.agg import SketchSpec as SS
    from .streaming import StreamingSketch

    ev = _hashed(load(spark, sf_dir, "events"), "event_id")
    n = table_rows(sf_dir, "events")
    spec = SS("rsqf", dict(capacity=max(64, n), fp_rate=0.01), "hash_col", "h")
    with tempfile.TemporaryDirectory() as d:
        ss = StreamingSketch(spec, d)
        thirds = [ev.where(f"event_id % 3 = {i}") for i in range(3)]
        ss.update(thirds[0], 0)
        ss.update(thirds[1], 1)
        ss.update(thirds[1], 1)  # replayed micro-batch: must be a no-op
        ss.update(thirds[2], 2)
        sk, meta, _ = ss.current()
    return _one_row(spark, n_items=int(meta["n_items"]),
                    len_matches=bool(len(sk.filter) == n))


def q_streaming_keyed(spark, sf_dir):
    """Per-key streaming sketches via ``applyInPandasWithState``
    (north_rule: keyed streaming state), driven deterministically.

    Events replay as a file-source stream (3 chunks by ``event_id % 3``,
    one per trigger, written Spark-side — no driver materialization);
    Spark's state store holds one RSQF per event_type, updated every
    trigger. The final cumulative (key, n_items) rows must equal the batch
    group counts — the exact DuckDB oracle — and, since event_ids are
    distinct, each key's sketch length must equal its item count.
    """
    import os
    import tempfile
    import uuid

    from .streaming import keyed_sketch_stream

    ev = load(spark, sf_dir, "events")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01),
                      "hash_col", "h")
    with tempfile.TemporaryDirectory() as d:
        src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
        os.makedirs(src)
        _write_stream_chunks(
            ev.select("event_type", F.col("event_id").cast("long")
                      .alias("event_id")),
            src, F.pmod("event_id", F.lit(3)).cast("int"), 3)
        stream = (spark.readStream.schema("event_type string, event_id long")
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .withColumn("h", F.xxhash64(F.col("event_id").cast("long"))))
        out = keyed_sketch_stream(stream, spec, key_col="event_type")
        name = f"keyed_sketch_{uuid.uuid4().hex[:8]}"
        with _few_shuffle_partitions(spark):
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt).start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = spark.sql(
            f"SELECT event_type, max(n_items) AS n_items, "
            f"max(sketch_len) AS sketch_len FROM {name} "
            "GROUP BY event_type").collect()
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        [(r["event_type"], int(r["n_items"]),
          bool(r["sketch_len"] == r["n_items"])) for r in rows],
        "event_type string, n_items long, len_matches boolean")


def q_streaming_retraction(spark, sf_dir):
    """Changelog stream: per-key RSQF state driven by an insert/retract
    op column (reference incremental insert/remove, src/lib.rs:1056-1129,
    as ``applyInPandasWithState`` streaming state).

    Batch 0 inserts every event; batch 1 retracts every even event_id.
    The final per-key state must hold exactly the odd survivors — the
    exact DuckDB oracle — and, event_ids being distinct, each key's
    sketch length must equal its net count.
    """
    import os
    import tempfile
    import uuid

    from .streaming import keyed_sketch_stream

    ev = load(spark, sf_dir, "events")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01),
                      "hash_col", "h")
    with tempfile.TemporaryDirectory() as d:
        src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
        os.makedirs(src)
        base = ev.select("event_type",
                         F.col("event_id").cast("long").alias("event_id"))
        inserts = base.withColumn("op", F.lit(1))
        retracts = (base.where("event_id % 2 = 0")
                    .withColumn("op", F.lit(-1)))
        # ONE write job for both replay files: chunk 0 = the insert batch,
        # chunk 1 = the retract batch (same two files, same ascending
        # mtimes, one Spark job instead of two)
        _write_stream_chunks(inserts.union(retracts), src,
                             F.when(F.col("op") >= 0, 0).otherwise(1)
                             .cast("int"), 2)
        stream = (spark.readStream
                  .schema("event_type string, event_id long, op int")
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .withColumn("h", F.xxhash64(F.col("event_id"))))
        out = keyed_sketch_stream(stream, spec, key_col="event_type",
                                  op_col="op")
        name = f"retract_sketch_{uuid.uuid4().hex[:8]}"
        with _few_shuffle_partitions(spark):
            q = (out.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt).start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = spark.sql(
            f"SELECT event_type, min(n_items) AS n_items, "
            f"min(sketch_len) AS sketch_len FROM {name} "
            "GROUP BY event_type").collect()
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        [(r["event_type"], int(r["n_items"]),
          bool(r["sketch_len"] == r["n_items"])) for r in rows],
        "event_type string, n_items long, len_matches boolean")


def q_streaming_windowed(spark, sf_dir):
    """Event-time windowed sketches with watermark-driven finalization,
    driven deterministically (north_rule: windowed/keyed streaming state).

    The events table is re-played as a file-source stream in event-time
    order: 3 ascending time-range chunks (boundaries from parquet FOOTER
    statistics, one Spark write job, no driver materialization) plus a
    far-future sentinel control row; tumbling 1-day windows
    are maintained as per-window RSQF state via ``applyInPandasWithState``
    (EventTimeTimeout). The sentinel pushes the watermark past every real
    window so each one finalizes exactly once. The finalized
    (win_start, n_items) rows must equal the batch per-day counts — the
    exact DuckDB oracle. Replay idempotence is asserted by RESTARTING the
    query from its checkpoint with one extra source file: the restarted
    query must recover its state, skip every already-processed file, and
    re-finalize nothing (one extra trigger instead of a full second replay).
    """
    import os
    import tempfile

    from .streaming import windowed_sketch_stream

    ev = load(spark, sf_dir, "events")
    n = table_rows(sf_dir, "events")
    spec = SketchSpec("rsqf", dict(capacity=max(64, n), fp_rate=0.01),
                      "hash_col", "h")

    with _few_shuffle_partitions(spark), tempfile.TemporaryDirectory() as d:
        src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
        os.makedirs(src)
        ts_ev = ev.select(F.col("ts").cast("timestamp").alias("ts"),
                          F.col("event_id").cast("long").alias("event_id"))
        # chunk boundaries from parquet footer statistics — no pre-scan
        import calendar

        t_lo, t_hi = table_column_range(sf_dir, "events", "ts")
        lo = int(calendar.timegm(t_lo.timetuple()))
        hi = int(calendar.timegm(t_hi.timetuple())) + 1
        u = F.unix_timestamp("ts")
        chunk = F.least(F.lit(2), F.floor((u - F.lit(lo)) * 3
                                          / F.lit(hi - lo))).cast("int")
        _write_stream_chunks(ts_ev, src, chunk, 3)
        _write_control_row(src, 3, 4102444800000000, -1)  # 2100-01-01 UTC

        def run(extra_sentinel=None, start_idx=4):
            if extra_sentinel is not None:
                _write_control_row(src, start_idx, extra_sentinel, -2)
            stream = (spark.readStream
                      .schema("ts timestamp, event_id long")
                      .option("maxFilesPerTrigger", 1).parquet(src)
                      .withColumn("h", F.xxhash64(F.col("event_id"))))
            out = windowed_sketch_stream(stream, spec, "ts",
                                         window_secs=86_400,
                                         watermark_delay="1 second")
            finals: list[tuple[int, int, int]] = []

            def sink(bdf, bid):
                finals.extend(
                    (int(r["win_start"]), int(r["n_items"]),
                     int(r["sketch_len"]))
                    for r in bdf.where("final").collect())

            q = (out.writeStream.foreachBatch(sink).outputMode("update")
                 .option("checkpointLocation", ckpt).start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return sorted(finals)

        first = run()
        # restart from checkpoint: a second sentinel (2100-01-02) forces
        # one real trigger; recovered state must re-finalize nothing
        second = run(extra_sentinel=4102531200000000)
        restart_clean = second == []
    return spark.createDataFrame(
        [(w, ni, bool(ni == sl and restart_clean)) for w, ni, sl in first],
        "win_start long, n_items long, window_ok boolean")


# ---------------------------------------------------------------------------
# similarity search / multimodal
# ---------------------------------------------------------------------------

def _queries_from(emb_df, n=10):
    rows = emb_df.where(F.col("vec_id") < n).orderBy("vec_id").collect()
    return [(int(r["vec_id"]), list(r["embedding"])) for r in rows]

def q_ann_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qs = _queries_from(emb, 10)
    return ann.cosine_topk(emb, qs, k=10)


def q_ann_lsh_recall(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    emb = load(spark, sf_dir, "embeddings")
    qs = _queries_from(emb, 10)
    # exact and LSH rankings are independent driver jobs: overlap them
    # (guide §2.6) — identical result sets, computed concurrently
    with ThreadPoolExecutor(2) as pool:
        fut_exact = pool.submit(
            lambda: {(r["query_id"], r["neighbor_id"])
                     for r in ann.cosine_topk(emb, qs, k=10).collect()})
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in ann.lsh_topk(emb, qs, k=10).collect()}
        exact = fut_exact.result()
    recall = len(exact & approx) / len(exact)
    # n_recall_hits (of 100 exact pairs) is deterministic — seeded
    # hyperplanes, exact re-rank — and pinned per-corpus in the oracle so
    # recall REGRESSIONS are visible, not just bound crossings.
    return _one_row(spark, n_queries=10, n_exact_pairs=len(exact),
                    n_recall_hits=len(exact & approx),
                    recall_ok=bool(recall >= 0.5))


def q_ann_ivf_recall(spark, sf_dir):
    """IVF (inverted-file) ANN: coarse spherical-k-means quantizer, probe
    nprobe of n_lists inverted lists, exact re-rank — the standard
    coarse-quantizer scale path. Recall@10 vs the exact ranking must clear
    the random-data expectation with margin (these embeddings are
    near-uniform: expected recall ~= (1 + 9*nprobe/n_lists)/10 ~ 0.55 at
    8/16; the top-1 self-hit is guaranteed)."""
    from concurrent.futures import ThreadPoolExecutor

    emb = load(spark, sf_dir, "embeddings")
    qs = _queries_from(emb, 10)

    def pairs(kind):
        if kind == "exact":
            df = ann.cosine_topk(emb, qs, k=10)
        else:
            df = ann.ivf_topk(emb, qs, k=10, n_lists=16, nprobe=8, train=kind)
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    # hit counts (of 100 exact pairs) are deterministic — seeded k-means
    # init, single-split scan order for the distributed partial sums — and
    # pinned per-corpus in the oracle: both trainers' recall is degree-
    # checked, not just bound-checked. The three rankings are independent
    # driver jobs — overlap them (guide §2.6).
    with ThreadPoolExecutor(3) as pool:
        fut = {k: pool.submit(pairs, k)
               for k in ("exact", "sample", "distributed")}
        exact = fut["exact"].result()
        h_sample = len(exact & fut["sample"].result())
        h_dist = len(exact & fut["distributed"].result())
    return _one_row(spark, n_queries=10,
                    n_recall_hits_sample=h_sample,
                    n_recall_hits_dist=h_dist,
                    recall_ok=bool(h_sample / len(exact) >= 0.35),
                    dist_recall_ok=bool(h_dist / len(exact) >= 0.35))


PLANTED_EMB_BASE_ID = 10_000_000


def planted_near_dup_vectors(dim: int = 64) -> list[tuple[int, list[float]]]:
    """Deterministic near-duplicate embedding groups planted into the
    ``dedup_embedding_cosine`` gate input AND its DuckDB oracle (as VALUES
    rows), so the gate row discriminates — the synthetic corpus itself has
    no qualifying pairs, and 0 == 0 rows proves nothing. Groups of sizes
    (3, 2, 2) with ~0.999 within-group cosine -> 5 qualifying pairs; values
    are rounded to exact float32 so both engines ingest identical inputs,
    and all cosines sit far from the 0.95 threshold (within-group ~0.999,
    cross-group/corpus |cos| <~ 0.5) so float32-vs-float64 evaluation order
    cannot flip a pair.
    """
    rng = np.random.default_rng(20260816)
    out = []
    vid = PLANTED_EMB_BASE_ID
    for size in (3, 2, 2):
        base = rng.standard_normal(dim)
        for _ in range(size):
            v = base + 0.02 * rng.standard_normal(dim)
            out.append((vid, [float(np.float32(x)) for x in v]))
            vid += 1
    return out


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: LSH blocking + exact cosine >= 0.95 verify,
    over the corpus plus the planted near-dup groups (both engines see the
    same union, so the qualifying pair set is nonempty and exact).

    Recall for true near-dups at this threshold is ~1-1e-7, so the output
    equals the exact all-pairs oracle.
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # dim from the parquet file directly (one-row driver-side read): the
    # round-5 .first() was a whole Spark job for one scalar
    first = first_parquet_row(sf_dir, "embeddings", ["embedding"])
    dim = len(first.column(0)[0])
    # the DuckDB oracle embeds planted_near_dup_vectors() at the DEFAULT
    # dim (oracle_sql() has no table context); both sides only agree while
    # the corpus dim matches it — fail loudly rather than diverge
    assert dim == 64, (
        f"embeddings dim {dim} != 64: regenerate the oracle VALUES in "
        "__spark_entry__._planted_emb_values_sql for the new dim")
    planted_rows = planted_near_dup_vectors(dim)
    planted = spark.createDataFrame(planted_rows,
                                    "vec_id long, embedding array<float>")
    # LSH geometry from footer row counts instead of a count() job — the
    # same n cosine_near_pairs would count (corpus rows + planted rows),
    # so the derived (n_tables, n_bits) pair is identical
    n_vecs = table_rows(sf_dir, "embeddings") + len(planted_rows)
    n_tables, n_bits = ann.lsh_params_for(n_vecs, 0.95)
    return ann.cosine_near_pairs(emb.union(planted), threshold=0.95,
                                 n_tables=n_tables, n_bits=n_bits, dim=dim)


def q_multimodal_stats(spark, sf_dir):
    """Multimodal plumbing end-to-end: attach -> features -> resize ->
    frame-sample, all cardinalities/sizes mirrored exactly in SQL (the
    fake decoders are deterministic functions of payload bytes/length, so
    the Arrow plumbing is oracle-checkable even though real codecs are
    stubbed)."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_media(docs, "encode(text, 'utf-8')", "image")
    feats = multimodal.extract_features(media)
    a = feats.agg(
        F.count("*").alias("n_media"),
        F.sum(F.col("media.n_bytes")).cast("long").alias("total_bytes"),
        F.max(F.col("media.n_bytes")).cast("long").alias("max_bytes"),
        F.sum((F.size("features") == multimodal.FEATURE_DIM).cast("long"))
        .alias("n_features_ok"))
    mslim = media.select("doc_id", "media")
    b = (multimodal.resize_media(mslim, width=8, height=8)
         .agg(F.sum((F.octet_length("resized") == F.lit(8 * 8 * 3))
                    .cast("long")).alias("n_resized_ok")))
    c = (multimodal.sample_frames(mslim, every=2)
         .agg(F.count("*").alias("n_frames_sampled")))
    return a.crossJoin(b).crossJoin(c)
