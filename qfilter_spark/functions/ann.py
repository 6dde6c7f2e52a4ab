"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — exact brute force: the query matrix is broadcast,
  each partition scores its vectors against all queries in one numpy GEMM
  (float64), keeps a local top-k, and a final window takes the global top-k.
  At scale this is scan-bound: no shuffle wider than (query, id, score) * k
  per partition.
- :func:`lsh_topk` — random-hyperplane LSH: seeded signed projections give
  each vector ``n_tables`` bucket keys; candidates share a bucket with the
  query in any table; candidates are re-ranked exactly. The bucket join is
  an equi-join on (table, key) — Catalyst broadcast-joins the (tiny) query
  bucket side.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

LSH_SEED = 20240601


def lsh_params_for(n_vectors: int, threshold: float = 0.95,
                   target_bucket_rows: int = 1024,
                   min_recall: float = 0.9999,
                   n_tables: int | None = None, n_bits: int | None = None,
                   max_tables: int = 256) -> tuple[int, int]:
    """(n_tables, n_bits) sized to the corpus for near-pair blocking.

    With b random hyperplanes per table, two vectors at cosine ``threshold``
    share a bucket with probability p^b, p = 1 - acos(threshold)/pi
    (Charikar 2002), so T tables give recall 1-(1-p^b)^T. b is chosen to
    keep the EXPECTED bucket at ~``target_bucket_rows`` rows (the bucket
    self-join is quadratic per bucket: fixed b makes candidate volume grow
    as n^2/2^b — the 4-bit default that is fine at 10^4 vectors is a
    cartesian blow-up at 10^9), then T is the smallest table count whose
    analytic recall at the threshold clears ``min_recall``. Everything is
    deterministic in (n_vectors, threshold).

    Pinning ONE parameter conditions the other on it (the pair is jointly
    sized — substituting one side of an auto pair silently breaks the
    recall bound): a pinned ``n_bits`` derives the table count for that
    width; a pinned ``n_tables`` keeps the bucket-target width and FAILS
    if that table count cannot reach ``min_recall`` at it — silently
    narrowing the buckets instead would recreate the quadratic self-join
    blow-up this function exists to prevent, and silently accepting lower
    recall would break the documented bound. Pin BOTH to force a geometry.

    ``max_tables`` bounds the auto table count: below ~0.85 thresholds the
    required table count explodes (898 tables at threshold 0.8 over 1e9
    vectors — hyperplane LSH is the wrong blocking tool there), and the
    sized-to-avoid-a-blow-up path must not create a different blow-up.
    A ValueError names the computed geometry and the escape hatches.

    Accepted ranges: ``threshold`` in (-1, 1] (a cosine similarity; at -1
    no hyperplane bucket can hold the pair) and ``min_recall`` in (0, 1)
    (recall 1 needs infinitely many tables). Values outside them raise a
    ValueError naming the parameter.
    """
    # cosine thresholds live in (-1, 1]; at threshold <= -1 the collision
    # probability p is 0, which would bypass the pinned-n_tables recall
    # guard (its 0 < p condition) and divide by log(1 - 0) == 0 in the
    # auto-sizing below — fail loudly instead (NaN also fails here: every
    # comparison with it is False)
    if not -1.0 < threshold <= 1.0:
        raise ValueError(
            f"lsh_params_for: threshold {threshold} is outside (-1, 1] — "
            "cosine similarity thresholds must be > -1 (p would be 0: no "
            "hyperplane bucket can separate antipodal-or-worse pairs) "
            "and <= 1")
    if not 0.0 < min_recall < 1.0:
        raise ValueError(
            f"lsh_params_for: min_recall {min_recall} is outside (0, 1) — "
            "no finite table count reaches recall 1")
    p = 1.0 - math.acos(threshold) / math.pi
    bucket_bits = max(4, math.ceil(
        math.log2(max(n_vectors, 2) / target_bucket_rows)))
    if n_bits is None:
        n_bits = bucket_bits
        if n_tables is not None and 0.0 < p < 1.0:
            recall = 1.0 - (1.0 - p ** n_bits) ** n_tables
            if recall < min_recall:
                raise ValueError(
                    f"lsh_params_for: {n_tables} pinned tables reach recall "
                    f"{recall:.4f} < {min_recall} at the {n_bits}-bit "
                    f"bucket-target width for {n_vectors} vectors — "
                    "pin n_bits too to force this geometry, or let "
                    "n_tables auto-size")
    if n_tables is None:
        per_table = p ** n_bits
        if per_table >= 1.0:    # threshold == 1.0: exact dups always collide
            n_tables = 1
        else:
            # log1p, not log(1 - x): a small per-table probability (low
            # threshold and/or wide buckets) makes 1.0 - per_table round to
            # exactly 1.0 and log(1.0) == 0 divides by zero; log1p keeps
            # the denominator ~-per_table and the table count correctly
            # explodes into the max_tables ValueError below (ADVICE r5).
            # per_table can itself underflow to 0.0 (p**n_bits < 5e-324) —
            # same verdict, reached directly.
            needed = (math.inf if per_table == 0.0
                      else math.log(1.0 - min_recall) / math.log1p(-per_table))
            n_tables = 1 if needed < 1 else (
                max_tables + 1 if needed > max_tables else math.ceil(needed))
            if n_tables > max_tables:
                raise ValueError(
                    f"lsh_params_for: {'%.3g' % needed} tables needed for recall "
                    f">= {min_recall} at threshold {threshold} with "
                    f"{n_bits}-bit buckets — hyperplane LSH blocking is "
                    "impractical at this threshold/scale; raise the "
                    "threshold or target_bucket_rows, or pin "
                    "n_tables/n_bits explicitly")
    return n_tables, n_bits


def _emb_matrix(batch, col: str) -> np.ndarray:
    arr = batch.column(col)
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy().astype(np.int64)
    start = offsets[0]
    flat = arr.values.to_numpy().astype(np.float64)[start:offsets[-1]]
    lengths = np.diff(offsets)
    if not len(arr):
        return flat.reshape(0, 0)
    # dim from the first NON-EMPTY row: deriving it from row 0 would let an
    # all-NULL batch pass as dim 0, and blame the first real row when row 0
    # itself is the NULL one
    nonzero = np.flatnonzero(lengths)
    if nonzero.size == 0:
        raise ValueError(
            f"embedding column {col!r}: all {len(arr)} rows are NULL/empty")
    dim = int(lengths[nonzero[0]])
    if not (lengths == dim).all():
        # a NULL row (zero extent) or ragged dimension would shift the flat
        # buffer: if totals happened to still divide evenly, reshape would
        # silently mis-slice every later row into garbage scores
        bad = int(np.flatnonzero(lengths != dim)[0])
        raise ValueError(
            f"embedding column {col!r}: row {bad} has {int(lengths[bad])} "
            f"values, expected dim {dim} (NULL or ragged embeddings)")
    return flat.reshape(len(arr), dim)


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def cosine_topk(emb_df: DataFrame, queries: list[tuple[int, list[float]]],
                k: int = 10, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank), rank 1-based.

    Ties broken by neighbor id ascending (deterministic).
    """
    import pyarrow as pa

    spark = emb_df.sparkSession
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    b = spark.sparkContext.broadcast((qids, qmat))

    def score(batches):
        qi, qm = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            m = _normalize(_emb_matrix(batch, emb_col))
            scores = m @ qm.T  # (n, nq)
            kk = min(k, ids.size)
            # local top-k per query (sorted by -score then id)
            for j in range(qi.size):
                order = np.lexsort((ids, -scores[:, j]))[:kk]
                yield pa.record_batch([
                    pa.array(np.full(kk, qi[j]), pa.int64()),
                    pa.array(ids[order], pa.int64()),
                    pa.array(scores[order, j], pa.float64()),
                ], names=["query_id", "neighbor_id", "score"])

    local = emb_df.select(id_col, emb_col).mapInArrow(
        score, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def lsh_signatures(emb_df: DataFrame, n_tables: int = 16, n_bits: int = 4,
                   dim: int = 64, id_col: str = "vec_id",
                   emb_col: str = "embedding") -> DataFrame:
    """(id, table, key): one bucket key per hash table (seeded hyperplanes)."""
    import pyarrow as pa

    rng = np.random.default_rng(LSH_SEED)
    planes = rng.standard_normal((n_tables, n_bits, dim))
    spark = emb_df.sparkSession
    b = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    def sign(batches):
        pl = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            m = _emb_matrix(batch, emb_col)
            n = ids.size
            tables, keys = [], []
            for t in range(pl.shape[0]):
                bits = (m @ pl[t].T) > 0  # (n, n_bits)
                key = bits.astype(np.int64) @ weights
                tables.append(np.full(n, t, dtype=np.int32))
                keys.append(key)
            yield pa.record_batch([
                pa.array(np.tile(ids, pl.shape[0]), pa.int64()),
                pa.array(np.concatenate(tables), pa.int32()),
                pa.array(np.concatenate(keys), pa.int64()),
            ], names=["vec_id", "table", "key"])

    return emb_df.select(id_col, emb_col).mapInArrow(
        sign, "vec_id long, table int, key long")


def cosine_near_pairs(emb_df: DataFrame, threshold: float = 0.95,
                      n_tables: int | None = None, n_bits: int | None = None,
                      dim: int = 64, id_col: str = "vec_id",
                      emb_col: str = "embedding") -> DataFrame:
    """Embedding near-duplicate pairs: LSH blocking + exact cosine verify.

    Candidates = pairs sharing any hyperplane-LSH bucket; each candidate is
    verified with an exact float64 cosine, so false candidates never reach
    the output. By default the blocking geometry is sized to the corpus by
    :func:`lsh_params_for` — per-table buckets stay ~1k rows at ANY corpus
    size, so the bucket self-join's candidate volume is ~n * bucket_rows
    instead of the n^2/2^n_bits a fixed small n_bits degrades to at scale,
    and the table count keeps analytic recall at the threshold >= 0.9999
    (exact duplicates collide in every table regardless). Pass explicit
    n_tables/n_bits to pin a geometry; the auto path pays one count() of
    the id column. Fully distributed: the only shuffles are the bucket
    self-join and the embedding fetch joins.
    """
    import pyarrow as pa

    if n_tables is None or n_bits is None:
        # a pinned parameter conditions the derived one (see lsh_params_for)
        n_tables, n_bits = lsh_params_for(
            emb_df.select(id_col).count(), threshold,
            n_tables=n_tables, n_bits=n_bits)

    sigs = lsh_signatures(emb_df, n_tables, n_bits, dim, id_col, emb_col)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (a.join(b, ["table", "key"])
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    emb = emb_df.select(F.col(id_col).alias("__id"), F.col(emb_col).alias("__e"))
    pairs = (cand
             .join(emb.withColumnRenamed("__id", "vec_a").withColumnRenamed("__e", "e_a"), "vec_a")
             .join(emb.withColumnRenamed("__id", "vec_b").withColumnRenamed("__e", "e_b"), "vec_b"))

    def verify(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            va = batch.column("vec_a").to_numpy(zero_copy_only=False).astype(np.int64)
            vb = batch.column("vec_b").to_numpy(zero_copy_only=False).astype(np.int64)
            ma = _normalize(_emb_matrix(batch, "e_a"))
            mb = _normalize(_emb_matrix(batch, "e_b"))
            cos = np.einsum("ij,ij->i", ma, mb)
            keep = cos >= threshold
            yield pa.record_batch([pa.array(va[keep], pa.int64()),
                                   pa.array(vb[keep], pa.int64())],
                                  names=["vec_a", "vec_b"])

    return pairs.mapInArrow(verify, "vec_a long, vec_b long")


def _exact_rerank(cand: DataFrame, emb_df: DataFrame,
                  queries: list[tuple[int, list[float]]], k: int,
                  id_col: str, emb_col: str) -> DataFrame:
    """Exact cosine re-rank of (query_id, vec_id) candidates -> top-k."""
    import pyarrow as pa

    spark = emb_df.sparkSession
    emb = emb_df.select(F.col(id_col).alias("vec_id"), emb_col)
    cand_emb = cand.join(emb, "vec_id")

    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    order = np.argsort(qids)
    b = spark.sparkContext.broadcast((qids[order], qmat[order]))

    def rerank(batches):
        qs, qm = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qid = batch.column("query_id").to_numpy(zero_copy_only=False).astype(np.int64)
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
            m = _normalize(_emb_matrix(batch, emb_col))
            scores = np.einsum("ij,ij->i", m, qm[np.searchsorted(qs, qid)])
            yield pa.record_batch([
                pa.array(qid, pa.int64()), pa.array(ids, pa.int64()),
                pa.array(scores, pa.float64()),
            ], names=["query_id", "neighbor_id", "score"])

    scored = cand_emb.mapInArrow(rerank, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def lsh_topk(emb_df: DataFrame, queries: list[tuple[int, list[float]]],
             k: int = 10, n_tables: int = 16, n_bits: int = 4,
             id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Approximate top-k: LSH bucket candidates, exact re-rank.

    Returns (query_id, neighbor_id, rank) over the candidate set.
    """
    spark = emb_df.sparkSession
    dim = len(queries[0][1])
    sigs = lsh_signatures(emb_df, n_tables, n_bits, dim, id_col, emb_col)
    qdf = spark.createDataFrame([(int(i), [float(x) for x in v]) for i, v in queries],
                                f"{id_col} long, {emb_col} array<float>")
    qsigs = (lsh_signatures(qdf, n_tables, n_bits, dim, id_col, emb_col)
             .withColumnRenamed("vec_id", "query_id"))
    cand = (sigs.join(F.broadcast(qsigs), ["table", "key"])
            .select("query_id", "vec_id").distinct())
    return _exact_rerank(cand, emb_df, queries, k, id_col, emb_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def _init_centroids(emb_df: DataFrame, n_lists: int, sample_cap: int,
                    id_col: str, emb_col: str):
    """Shared deterministic init for both IVF trainers: bounded
    hash-selected id-ordered sample + seeded centroid choice. Keeping this
    in ONE place is what guarantees driver-vs-distributed trainer parity
    (tested) — edit here, not in the trainers."""
    from pyspark.sql import functions as SF

    rows = (emb_df.select(id_col, emb_col)
            .where(SF.pmod(SF.xxhash64(SF.col(id_col).cast("long")), SF.lit(4))
                   == SF.lit(0))
            .orderBy(id_col).limit(sample_cap).collect())
    if not rows:
        raise ValueError(
            "IVF training sample is empty (corpus too small for the 1/4 "
            "hash-selected sample) — train on more data or index exactly")
    m = _normalize(np.array([list(r[1]) for r in rows], dtype=np.float64))
    rng = np.random.default_rng(LSH_SEED)
    cent = m[rng.choice(m.shape[0], min(n_lists, m.shape[0]), replace=False)]
    return m, cent


def ivf_centroids(emb_df: DataFrame, n_lists: int = 16, n_iters: int = 4,
                  sample_cap: int = 4096, id_col: str = "vec_id",
                  emb_col: str = "embedding") -> np.ndarray:
    """Spherical k-means coarse quantizer on a bounded deterministic sample.

    The standard IVF training recipe: Lloyd iterations driver-side over at
    most ``sample_cap`` vectors (a hash-selected, id-ordered sample), so
    training cost is FIXED at any corpus scale; only assignment is
    data-scale work, and that is distributed. Centroids are unit-norm
    (spherical k-means == cosine objective). Fully seeded/deterministic.
    """
    m, cent = _init_centroids(emb_df, n_lists, sample_cap, id_col, emb_col)
    for _ in range(n_iters):
        assign = np.argmax(m @ cent.T, axis=1)
        for j in range(cent.shape[0]):
            pts = m[assign == j]
            if pts.shape[0]:
                cent[j] = pts.mean(axis=0)
        cent = _normalize(cent)
    return cent


def ivf_centroids_distributed(emb_df: DataFrame, n_lists: int = 16,
                              n_iters: int = 4, init_sample_cap: int = 4096,
                              id_col: str = "vec_id",
                              emb_col: str = "embedding") -> np.ndarray:
    """Distributed Lloyd iterations for the IVF coarse quantizer.

    For corpora where the bounded driver-side sample under-covers (many
    lists, small clusters): initialization still comes from the
    deterministic bounded sample (fixed driver cost at any scale), but
    every Lloyd iteration computes assignments and PARTIAL SUMS over the
    FULL corpus — one ``mapInArrow`` pass per iteration emits
    per-partition (list_id, count, sum-vector) partials (at most
    n_partitions x n_lists rows of dim doubles — metadata-scale), which
    the driver reduces into the new centroids. Each iteration is an
    embarrassingly parallel scan (one GEMM per Arrow batch, partial sums
    combined in-task); no shuffle anywhere. Spherical k-means: centroids
    re-normalized every round, empty lists keep their previous centroid.

    The sample-sufficiency bound for the default trainer: with n_lists
    lists trained on m samples, each list sees ~m/n_lists points; at
    m=4096, 16 lists -> 256 points/list (fine), 256 lists -> 16 (noisy).
    Use this trainer when n_lists exceeds ~m/64.
    """
    import pyarrow as pa

    spark = emb_df.sparkSession
    # deterministic seeded init from the bounded sample (shared with the
    # driver-side trainer — parity depends on it)
    _, cent = _init_centroids(emb_df, n_lists, init_sample_cap,
                              id_col, emb_col)
    dim = cent.shape[1]
    data = emb_df.select(emb_col)

    for _ in range(n_iters):
        b = spark.sparkContext.broadcast(cent)

        def partials(batches):
            c = b.value
            sums = np.zeros((c.shape[0], dim), dtype=np.float64)
            counts = np.zeros(c.shape[0], dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                x = _normalize(_emb_matrix(batch, emb_col))
                assign = np.argmax(x @ c.T, axis=1)
                np.add.at(sums, assign, x)
                np.add.at(counts, assign, 1)
            nz = np.flatnonzero(counts)
            yield pa.record_batch(
                [pa.array(nz.astype(np.int32), pa.int32()),
                 pa.array(counts[nz], pa.int64()),
                 pa.array([sums[j].tobytes() for j in nz], pa.binary())],
                names=["list_id", "cnt", "vsum"])

        agg = data.mapInArrow(partials,
                              "list_id int, cnt long, vsum binary").collect()
        b.unpersist()
        sums = np.zeros((cent.shape[0], dim), dtype=np.float64)
        counts = np.zeros(cent.shape[0], dtype=np.int64)
        for r in agg:
            j = int(r["list_id"])
            counts[j] += int(r["cnt"])
            sums[j] += np.frombuffer(bytes(r["vsum"]), dtype=np.float64)
        nz = counts > 0
        cent[nz] = sums[nz] / counts[nz, None]
        cent = _normalize(cent)
    return cent


def ivf_assign(emb_df: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id",
               emb_col: str = "embedding") -> DataFrame:
    """(vec_id, list_id): nearest-centroid assignment, one GEMM per batch."""
    import pyarrow as pa

    b = emb_df.sparkSession.sparkContext.broadcast(centroids)

    def assign(batches):
        cent = b.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            m = _normalize(_emb_matrix(batch, emb_col))
            lists = np.argmax(m @ cent.T, axis=1).astype(np.int32)
            yield pa.record_batch([pa.array(ids, pa.int64()),
                                   pa.array(lists, pa.int32())],
                                  names=["vec_id", "list_id"])

    return emb_df.select(id_col, emb_col).mapInArrow(
        assign, "vec_id long, list_id int")


def ivf_topk(emb_df: DataFrame, queries: list[tuple[int, list[float]]],
             k: int = 10, n_lists: int = 16, nprobe: int = 8,
             id_col: str = "vec_id", emb_col: str = "embedding",
             train: str = "sample") -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest inverted lists,
    exact re-rank inside them.

    Scale shape: assignment is an embarrassingly parallel scan; the
    candidate fetch is an equi-join on list_id with the (tiny, broadcast)
    query->list table; re-rank touches only ~nprobe/n_lists of the corpus.
    ``train="distributed"`` runs the Lloyd iterations over the full corpus
    (see :func:`ivf_centroids_distributed`) for large n_lists.
    """
    spark = emb_df.sparkSession
    trainer = (ivf_centroids_distributed if train == "distributed"
               else ivf_centroids)
    cent = trainer(emb_df, n_lists=n_lists, id_col=id_col, emb_col=emb_col)
    lists = ivf_assign(emb_df, cent, id_col, emb_col)
    qmat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    probe = np.argsort(-(qmat @ cent.T), axis=1)[:, :nprobe]
    qlists = spark.createDataFrame(
        [(int(q[0]), int(l)) for qi, q in enumerate(queries)
         for l in probe[qi]],
        "query_id long, list_id int")
    cand = (lists.join(F.broadcast(qlists), "list_id")
            .select("query_id", "vec_id").distinct())
    return _exact_rerank(cand, emb_df, queries, k, id_col, emb_col)
