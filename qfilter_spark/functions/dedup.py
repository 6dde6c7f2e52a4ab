"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first design:
- shingling and shingle hashing are JVM expressions (``transform`` +
  ``xxhash64``) so whole-stage codegen covers them;
- MinHash signatures / SimHash bits are one vectorized Arrow UDF over the
  already-hashed shingle arrays (numpy segment-min / bit-count — no per-row
  Python);
- LSH banding + candidate generation is a posexplode + self-join on
  (band, key) — an equi-join Catalyst can plan (broadcast or shuffle-hash);
- verification is an exact set Jaccard on the shingle-string arrays
  (``array_intersect`` / ``array_union``), the same definition the DuckDB
  oracle evaluates.

At 100 TB the self-join on band keys is the only shuffle, its width is
(doc_id, 16 band keys), and hot buckets are naturally bounded by band-key
cardinality; exact verification touches only candidate pairs.
"""

from __future__ import annotations

import threading

import numpy as np
from pyspark.sql import DataFrame, functions as F

N_PERM = 64           # minhash permutations
N_BANDS = 16          # bands over the signature
ROWS_PER_BAND = N_PERM // N_BANDS


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingles as array<string> (JVM-side).

    SQL mirror (DuckDB): list_distinct(list_transform(range(1, len(w)-n+1+1),
    i -> w[i]||' '||...||w[i+n-1])) over w = string_split(text, ' ').

    Construction detail that matters at scale: the sliding window is an
    ``arrays_zip`` of n shifted ``slice``s, and the lambda touches ONLY its
    zipped element — no outer column references inside the lambda. The
    obvious formulation (``transform(sequence(...), i -> __words[i+k]...)``)
    is quadratic in document length: Catalyst's CollapseProject inlines the
    ``__words`` expression (split, and anything UPSTREAM of the text
    column) into every per-element reference, and higher-order functions
    evaluate interpreted, so each shingle re-evaluated an O(len) expression
    — measured 200x slower on 4096-token docs, invisible on short ones.
    Here every outer reference sits in the transform's input argument,
    which is evaluated once per row no matter what the optimizer inlines.
    """
    w = "__words"
    zips = ", ".join(f"slice({w}, {k + 1}, size({w}) - {n} + 1)"
                     for k in range(n))
    parts = ", ' ', ".join(f"p['{k}']" for k in range(n))
    expr = (f"CASE WHEN size({w}) < {n} THEN array() ELSE "
            f"array_distinct(transform(arrays_zip({zips}), "
            f"p -> concat({parts}))) END")
    return (df.withColumn(w, F.split(F.col(text_col), " "))
              .withColumn(out_col, F.expr(expr))
              .drop(w))


def with_shingle_hashes(df: DataFrame, shingle_col: str = "shingles",
                        out_col: str = "shingle_hashes") -> DataFrame:
    """xxhash64 each shingle string on the JVM (array<long>)."""
    return df.withColumn(out_col, F.expr(f"transform({shingle_col}, s -> xxhash64(s))"))


def _minhash_arrow(seeds: np.ndarray):
    """mapInArrow kernel: (doc_id, shingle_hashes) -> + signature, bands, simhash."""
    import pyarrow as pa

    from ..hashing import xxh64_u64_chain, xxh64_u64_multi_seed

    def run(batches):
        for batch in batches:
            lst = batch.column("shingle_hashes")
            if hasattr(lst, "combine_chunks"):
                lst = lst.combine_chunks()
            offsets = lst.offsets.to_numpy().astype(np.int64)
            start = offsets[0]
            flat = lst.values.to_numpy().astype(np.int64).view(np.uint64)[start:offsets[-1]]
            offsets = offsets - start
            n_docs = len(lst)
            starts = offsets[:-1]
            nonempty = offsets[1:] > offsets[:-1]

            # MinHash: all permutations share one lane pass, segment-min per
            # doc. A trailing IDENTITY sentinel makes every doc-start offset
            # a valid reduceat index: a trailing empty doc's start equals
            # flat.size, and clipping it (the old code) truncated the LAST
            # nonempty doc's segment by one element — a silent signature
            # corruption.
            sig = np.full((n_docs, seeds.size), np.uint64(0xFFFFFFFFFFFFFFFF))
            if flat.size:
                hs = xxh64_u64_multi_seed(flat, seeds)  # (n_perm, n_shingles)
                hs_ext = np.concatenate(
                    [hs, np.full((seeds.size, 1),
                                 np.uint64(0xFFFFFFFFFFFFFFFF))], axis=1)
                for j in range(seeds.size):
                    mins = np.minimum.reduceat(hs_ext[j], starts)
                    sig[nonempty, j] = mins[nonempty]

            # LSH bands: chain-hash each band's rows (+ band index as salt)
            bands = np.empty((n_docs, N_BANDS), dtype=np.uint64)
            for b in range(N_BANDS):
                cols = [sig[:, b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)]
                bands[:, b] = xxh64_u64_chain(cols, np.uint64(1000 + b))

            # SimHash: majority vote per bit over shingle hashes (same
            # sentinel trick: a zero row leaves segment sums unchanged)
            sim = np.zeros(n_docs, dtype=np.uint64)
            if flat.size:
                bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8),
                                     axis=1, bitorder="little").astype(np.int32)
                bits_ext = np.vstack([bits, np.zeros((1, 64), np.int32)])
                sums = np.add.reduceat(bits_ext, starts, axis=0)
                counts = (offsets[1:] - offsets[:-1])[:, None]
                maj = (2 * sums > counts) & nonempty[:, None]
                weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
                sim = (maj.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)

            # empty-shingle docs get NULL bands: their all-identity
            # signatures would otherwise share every band key and form one
            # quadratic candidate clique in the LSH self-join (posexplode
            # skips nulls, so they simply never enter banding)
            bands_i64 = bands.view(np.int64)
            bands_py = [bands_i64[i].tolist() if nonempty[i] else None
                        for i in range(n_docs)]
            yield pa.record_batch([
                batch.column("doc_id"),
                pa.array(sig.view(np.int64).tolist(), pa.list_(pa.int64())),
                pa.array(bands_py, pa.list_(pa.int64())),
                pa.array(sim.view(np.int64), pa.int64()),
            ], names=["doc_id", "signature", "bands", "simhash"])

    return run


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       hash_col: str = "shingle_hashes") -> DataFrame:
    """(id, signature array<long>, bands array<long>, simhash long)."""
    seeds = np.arange(1, N_PERM + 1, dtype=np.uint64) * np.uint64(0x9E3779B9)
    src = df.select(F.col(id_col).alias("doc_id"), F.col(hash_col).alias("shingle_hashes"))
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInArrow(
        _minhash_arrow(seeds),
        f"doc_id {id_type}, signature array<long>, bands array<long>, simhash long")


def lsh_candidate_pairs(sig_df: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH band bucket."""
    exploded = sig_df.select("doc_id", F.posexplode("bands").alias("band", "key"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (a.join(b, ["band", "key"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct())


def exact_jaccard_pairs(pairs: DataFrame, shingle_df: DataFrame,
                        id_col: str = "doc_id",
                        shingle_col: str = "shingles") -> DataFrame:
    """Exact set Jaccard for given pairs; adds jacc_millis (exact integer)."""
    sh = shingle_df.select(F.col(id_col).alias("__id"), F.col(shingle_col).alias("__sh"))
    out = (pairs
           .join(sh.withColumnRenamed("__id", "doc_a").withColumnRenamed("__sh", "sh_a"), "doc_a")
           .join(sh.withColumnRenamed("__id", "doc_b").withColumnRenamed("__sh", "sh_b"), "doc_b")
           .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
           .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
           .withColumn("jacc_millis",
                       F.floor(F.lit(1000.0) * F.col("inter") / F.col("uni")).cast("long")))
    return out.select("doc_a", "doc_b", "jacc_millis")


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold_millis: int = 800) -> DataFrame:
    """Full pipeline: shingle -> minhash -> LSH candidates -> exact verify.

    With J >= 0.8 and 16 bands x 4 rows the candidate-recall is ~0.9998 at
    the threshold and ~1-1e-20 for true near-dups, so the verified output
    equals the exact all-pairs answer (the DuckDB oracle) on real data.

    Verification joins the 8-byte shingle-HASH arrays, not the shingle
    strings — same set Jaccard (collision odds within one pair's union are
    ~|union|^2/2^65) at a fraction of the shuffle bytes.
    """
    sh = with_shingles(df.select(id_col, text_col), text_col, n)
    hashed = with_shingle_hashes(sh)
    sig = minhash_signatures(hashed, id_col=id_col)
    cand = lsh_candidate_pairs(sig)
    verified = exact_jaccard_pairs(cand, hashed, id_col=id_col,
                                   shingle_col="shingle_hashes")
    return verified.where(F.col("jacc_millis") >= threshold_millis)


_NGRAM_EX_PREFIX = "qfs_ngram_ex"
_NGRAM_EX_KEEP = 2          # the last calls whose tables stay live
_NGRAM_EX_SWEEP_DAYS = 7    # dead-session dirs older than this are removed
# (table, path) of the tables written, oldest first. The lock guards the
# list only, never a table write.
_ngram_ex_tables: list[tuple[str, str]] = []
_ngram_ex_lock = threading.Lock()


def _ngram_base_dir(spark) -> str:
    """See :func:`qfilter_spark.sources.intermediate_dir`."""
    from ..sources import intermediate_dir

    return intermediate_dir(spark)


def _sweep_dead_tables(spark, base: str, app: str) -> None:
    """Remove ngram intermediates left by DEAD sessions (best-effort, once
    per process per base dir) — see sources.sweep_dead_intermediates."""
    from ..sources import sweep_dead_intermediates

    sweep_dead_intermediates(spark, base, app, _NGRAM_EX_PREFIX,
                             _NGRAM_EX_SWEEP_DAYS)


def _drop_table(spark, table: str, path: str) -> None:
    from .. import fsutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    fsutil.delete(spark, path)


def _materialize_bucketed(spark, df: DataFrame, n_buckets: int) -> DataFrame:
    """Write the annotated explode to a bucketed+sorted parquet table,
    once per call.

    The warehouse-scale home for the one big ngram-jaccard intermediate:
    written ONCE per call (hash-bucketed by ``hs``), every downstream
    consumer — the rare-pair self-join, the per-doc stats, the hot
    intersection — scans it co-partitioned with no exchange on ``hs`` and
    no session-long cache pin. Nothing is reused across calls, so a
    repeated call over the same input pays the write again (0.6-0.8 s
    more per call at sf0.1 on a 4-core ``local[4]`` session, measured on
    the second and third of three calls) and an input overwritten in
    place is always read afresh.

    Lifetime contract: the tables of the last ``_NGRAM_EX_KEEP`` calls in
    this process stay live; each call drops the oldest beyond that (its
    catalog entry and directory) before it writes, after which DataFrames
    still referencing it fail fast (FileNotFound) rather than silently
    reading another corpus. Dirs from dead sessions are swept after
    ``_NGRAM_EX_SWEEP_DAYS`` on first use (see :func:`_sweep_dead_tables`).
    """
    import uuid

    from .. import fsutil

    base = _ngram_base_dir(spark)
    app = spark.sparkContext.applicationId
    _sweep_dead_tables(spark, base, app)  # once per (base, prefix)/process

    tag = uuid.uuid4().hex[:8]
    table = f"{_NGRAM_EX_PREFIX}_{tag}"
    path = fsutil.child(base, f"{_NGRAM_EX_PREFIX}_{app}_{tag}")
    with _ngram_ex_lock:
        _ngram_ex_tables.append((table, path))
        evicted = _ngram_ex_tables[:-_NGRAM_EX_KEEP]
        del _ngram_ex_tables[:-_NGRAM_EX_KEEP]
    for t, p in evicted:   # DROP TABLE + recursive delete: not under lock
        _drop_table(spark, t, p)
    # repartition by the bucket key at the bucket count: Spark's repartition
    # and bucket-id hashing agree (murmur3 pmod n), so each task holds
    # exactly one bucket -> n_buckets files total instead of
    # n_tasks x n_buckets small files
    (df.repartition(n_buckets, "hs")
       .write.format("parquet")
       .bucketBy(n_buckets, "hs").sortBy("hs")
       .option("path", path).saveAsTable(table))
    return spark.table(table)


def _pair_counts(ex: DataFrame, count_name: str,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-shingle POSTING LISTS -> co-occurrence pair counts.

    Replaces the row-by-row self-join on ``hs`` (round 1-4): group each
    shingle's doc ids into one sorted posting list, then emit the
    C(d, 2) ordered pairs per posting through two pipelined Generate
    operators and collapse them map-side in the partial aggregate before
    the single (doc_a, doc_b) shuffle.

    Same output as the self-join+count, strictly less machinery on the
    zipf-heavy warm path (the 10x-stress bottleneck, VERDICT r4 #2): one
    scan of the bucketed table instead of two, no join build/probe, and
    d·(d-1)/2 generated rows per posting instead of the join's d². The
    ``groupBy("hs")`` is exchange-free when ``ex`` descends from the
    bucketed-by-``hs`` intermediate (filters/broadcast-joins preserve its
    output partitioning). Posting lists are bounded: rare shingles by
    ``max_df``, hot shingles by the candidate near-dup cluster they are
    restricted to. The inner slice references only Generate outputs —
    no outer column inside a HOF lambda (the round-4 CollapseProject
    quadratic).

    ``carry``: per-doc columns of ``ex`` (constant per doc_id) carried
    THROUGH the posting structs and emitted as ``<col>_a`` / ``<col>_b``
    on each pair row. This is how per-doc stats reach the candidate
    filter without ever joining the (much larger) pair set: the round-5
    breakdown measured the post-pair stats joins at ~4x the pair stage
    itself (302M pair rows vs n_docs stats rows at 100k zipf docs).
    Structs sort by leading field, so ordering stays doc_id-ascending.
    """
    if carry:
        elem = F.struct(F.col("doc_id"), *[F.col(c) for c in carry])
        a_id, b_id = F.col("a.doc_id"), F.col("b.doc_id")
    else:
        elem = F.col("doc_id")
        a_id, b_id = F.col("a"), F.col("b")
    posting = (ex.groupBy("hs")
               .agg(F.sort_array(F.collect_list(elem)).alias("docs"))
               .where(F.size("docs") >= 2))
    gen = (posting
           .select(F.posexplode("docs").alias("i", "a"), "docs")
           .select("a",
                   F.explode(F.expr("slice(docs, i + 2, size(docs))"))
                    .alias("b"))
           # a doc_id ingested twice puts two copies in a posting; the
           # positional pairing would emit a (d, d) self-pair the old
           # a.doc_id < b.doc_id join predicate structurally excluded
           .where(a_id != b_id))
    aggs = [F.count("*").alias(count_name)]
    # carried values are constant per doc: min == the value, and min is
    # deterministic under any row order
    aggs += [F.min(F.col(f"a.{c}")).alias(f"{c}_a") for c in carry]
    aggs += [F.min(F.col(f"b.{c}")).alias(f"{c}_b") for c in carry]
    return (gen.groupBy(a_id.alias("doc_a"), b_id.alias("doc_b"))
               .agg(*aggs))


#: default rarity cutoff for the ngram-Jaccard candidate stage; shared
#: with scripts/explain_audit.py so the audited plan can't drift from the
#: production default
DEFAULT_NGRAM_MAX_DF = 500


def _rare_pair_stats(ex_f: DataFrame, max_df: int) -> DataFrame:
    """Stats-annotated rare-shingle co-occurrence counts over the
    materialized bucketed explode table: one row per ordered doc pair
    sharing >= 1 rare shingle, with columns ``doc_a, doc_b, inter_rare,
    n_a, n_b, hot_a, hot_b`` (each doc's total and corpus-hot shingle
    counts). This is the stage both :func:`ngram_jaccard_pairs` and the
    plan audit (scripts/explain_audit.py check 5) build, from ONE place,
    so the audited plan is the production plan by construction.

    Two plans, chosen by ``spark.qfilter.ngram.statsBroadcast``
    (default ``true``):

    - **broadcast-carry** (default): stats (one ~24-byte row per doc) is
      broadcast-joined onto the explode rows — partitioning-preserving,
      so the posting ``groupBy(hs)`` stays exchange-free — and carried
      through the posting structs; the candidate filter then needs no
      joins at all. The round-5 breakdown measured the alternative
      (joining stats onto the PAIR set, 302M rows at 100k zipf docs) at
      ~4x the cost of the whole pair stage. Caveat: a broadcast build
      collects stats driver-side, so this plan has a hard ceiling at
      Spark's 8 GB broadcast limit (~10^8 docs) and driver memory.
    - **shuffle fallback** (conf ``false``): the round-1-4 shape — plain
      posting-list pair counts, then two shuffle equi-joins of stats
      onto the aggregated pair set. No driver-side build, no broadcast
      ceiling; pays the pair-set joins instead. Set this beyond ~10^8
      docs (a 10^12-doc deployment would instead bucket stats by doc_id
      next to a doc_id-keyed copy of the explode — the same at-rest
      pattern :func:`_materialize_bucketed` uses for ``hs``).
    """
    rare = F.col("freq") <= max_df
    stats = ex_f.groupBy("doc_id").agg(
        F.count("*").alias("n_sh"),
        F.sum((~rare).cast("long")).alias("n_hot"))
    spark = ex_f.sparkSession
    broadcast_stats = (spark.conf.get(
        "spark.qfilter.ngram.statsBroadcast", "true").lower() == "true")
    if broadcast_stats:
        ex_rare = (ex_f.where(rare).select("doc_id", "hs")
                   .join(F.broadcast(stats), "doc_id"))
        return (_pair_counts(ex_rare, "inter_rare",
                             carry=("n_sh", "n_hot"))
                .withColumnRenamed("n_sh_a", "n_a")
                .withColumnRenamed("n_sh_b", "n_b")
                .withColumnRenamed("n_hot_a", "hot_a")
                .withColumnRenamed("n_hot_b", "hot_b"))
    pairs = _pair_counts(ex_f.where(rare).select("doc_id", "hs"),
                         "inter_rare")
    return (pairs
            .join(stats.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_sh").alias("n_a"),
                               F.col("n_hot").alias("hot_a")), "doc_a")
            .join(stats.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_sh").alias("n_b"),
                               F.col("n_hot").alias("hot_b")), "doc_b"))


def _ngram_bucket_count(spark, df: DataFrame) -> int:
    """Bucket count for the materialized explode table, sized to the INPUT
    rather than pinned to the session's core count (a 32-bucket table for
    a 1000-doc gate corpus paid ~0.5-1 s of pure task/file overhead per
    consumer stage, measured; a corpus-sized rule keeps buckets in the
    tens-of-MB range at any scale). The explode is a small constant factor
    of the input text bytes, so input bytes / 8 MB, clamped to
    [4, 4 * defaultParallelism], is used; unknown input sizes (non-file
    sources) fall back to defaultParallelism.
    """
    par = spark.sparkContext.defaultParallelism
    try:
        from .. import fsutil

        in_bytes = fsutil.total_length(spark, df.inputFiles())
    except Exception:
        in_bytes = 0
    if in_bytes <= 0:
        return par
    return max(4, min(4 * par, -(-in_bytes // (8 << 20))))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold_millis: int = 800,
                        max_df: int = DEFAULT_NGRAM_MAX_DF) -> DataFrame:
    """Exact n-gram Jaccard >= threshold WITHOUT minhash, as joins + counts.

    The 100 TB-shaped plan (replaces the round-1 pair-explosion self-join):

    1. Explode distinct shingle HASHES (8-byte keys; strings never shuffle).
    2. Candidate pairs = docs sharing a *rare* shingle (document frequency
       <= max_df). The self-join on rare hashes feeds STRAIGHT into
       ``groupBy(doc_a, doc_b).count()`` — Spark's partial aggregation
       collapses the joined rows map-side, so pairs are never materialized
       through a shuffle; the count IS the rare-shingle intersection size.
    3. Prune with an upper bound: even if every corpus-hot shingle of the
       smaller doc were shared, could the pair reach the threshold?
       (1000 * I >= t * (n_a + n_b - I) is monotone in I, so testing it at
       I_max = inter_rare + min(hot_a, hot_b) is a sound filter.)
    4. Exact hot intersection only for surviving docs: hot shingles
       restricted to candidate docs, same join+count shape. Total
       intersection = inter_rare + inter_hot; union = n_a + n_b - inter.

    No string arrays through any shuffle, every stage a hash equi-join or
    partial-aggregated count; the only driver-side build is the per-doc
    stats broadcast (default plan — has a ~10^8-doc ceiling; set
    ``spark.qfilter.ngram.statsBroadcast=false`` to restore the fully
    shuffled shape, see :func:`_rare_pair_stats`). The one large intermediate
    (the freq-annotated explode) is checkpointed to a bucketed+sorted
    parquet table under ``spark.qfilter.intermediateDir`` (default: system
    temp dir), so its consumers scan co-partitioned and nothing is pinned
    in executor memory. Every call writes its own table; a repeated call
    over the same input (e.g. a threshold/max_df sweep) writes it again.
    Lifetime contract: the tables of the last 2 calls in this process
    stay live; consume a returned DataFrame before the 2nd call after it,
    or its plan fails fast with FileNotFound (see
    :func:`_materialize_bucketed`). Recall caveat (unchanged
    from round 1): a qualifying pair whose every common shingle is hot is
    missed; at J >= 0.8 a pair shares most of its shingles, so sharing at
    least one rare one is near-certain on real corpora. Step 4's self-join
    is bounded by near-dup cluster sizes (only candidate docs participate).
    """
    t = int(threshold_millis)
    sh = with_shingles(df.select(id_col, text_col), text_col, n)
    hashed = with_shingle_hashes(sh).select(
        F.col(id_col).alias("doc_id"),
        F.col("shingle_hashes").alias("hs_arr"))
    ex = hashed.select("doc_id", F.explode("hs_arr").alias("hs"))
    dfreq = ex.groupBy("hs").agg(F.count("*").alias("freq"))
    # annotate every exploded row with its corpus frequency ONCE, then
    # materialize it bucketed+sorted by hs — the checkpointed bucketed
    # table every downstream stage reads co-partitioned, with no cache
    # pinned for the life of the session (a bare .persist() would pin the
    # cache at the session's raw shuffle partition count and AQE can't
    # coalesce cached plans — the round-1/2 legacy path, now removed).
    rare = F.col("freq") <= max_df
    spark = df.sparkSession
    n_parts = _ngram_bucket_count(spark, df)
    annotated = ex.join(dfreq, "hs")
    ex_f = _materialize_bucketed(spark, annotated, n_parts)

    # rare-pair counts with per-doc stats attached — plan choice
    # (broadcast-carry vs shuffle joins) and its scale contract live in
    # _rare_pair_stats, which the plan audit builds from the same place
    cand = (_rare_pair_stats(ex_f, max_df)
            .withColumn("max_inter",
                        F.col("inter_rare") + F.least("hot_a", "hot_b"))
            .where(F.lit(1000) * F.col("max_inter")
                   >= F.lit(t) * (F.col("n_a") + F.col("n_b") - F.col("max_inter"))))

    cand_docs = (cand.select(F.col("doc_a").alias("doc_id"))
                 .union(cand.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    ex_hot_c = ex_f.where(~rare).select("doc_id", "hs").join(cand_docs, "doc_id")
    pairs_hot = _pair_counts(ex_hot_c.select("doc_id", "hs"), "inter_hot")

    return (cand.join(pairs_hot, ["doc_a", "doc_b"], "left")
            .withColumn("inter",
                        F.col("inter_rare") + F.coalesce("inter_hot", F.lit(0)))
            .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
            .withColumn("jacc_millis",
                        F.floor(F.lit(1000.0) * F.col("inter") / F.col("uni"))
                        .cast("long"))
            .where(F.col("jacc_millis") >= t)
            .select("doc_a", "doc_b", "jacc_millis"))


def simhash_filter_pairs(cand: DataFrame, sig: DataFrame,
                         max_hamming: int = 12) -> DataFrame:
    """Hamming-filter candidate pairs against a signature table: the ONE
    implementation of the cand-join-simhash-bit_count plan, shared by
    :func:`simhash_near_pairs` and the gate query (which reuses its own
    cand/sig to also drive the exact-Jaccard verify)."""
    s = sig.select("doc_id", "simhash")
    out = (cand
           .join(s.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("simhash", "sim_a"), "doc_a")
           .join(s.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("simhash", "sim_b"), "doc_b")
           .withColumn("hamming",
                       F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))))
    return out.where(F.col("hamming") <= max_hamming)               .select("doc_a", "doc_b", "hamming")


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance over LSH candidates."""
    sh = with_shingles(df.select(id_col, text_col), text_col, 3)
    hashed = with_shingle_hashes(sh)
    sig = minhash_signatures(hashed, id_col=id_col)
    cand = lsh_candidate_pairs(sig)
    return simhash_filter_pairs(cand, sig, max_hamming)


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup: first row (min doc_id) per key group — one hash shuffle."""
    w_cols = [F.col(c) for c in key_cols]
    return (df.groupBy(*w_cols)
              .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")))
