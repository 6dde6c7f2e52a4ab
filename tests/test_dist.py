"""Distributed pipeline tests (FIXTURES.md F4): partial build + tree merge,
merge-order invariance, salted skew handling, checkpoint resume, and
single-node parity — on a local[2] SparkSession over the F1 corpus.
"""

import os
import shutil

import numpy as np
import pytest

from qfilter_spark import Filter, corpus
from qfilter_spark.dist import (
    SketchSpec,
    build_grouped_sketches,
    build_sketch,
    partial_sketches,
    tree_merge,
)
from qfilter_spark.dist.checkpoint import MergeLineage, resume_tree_merge
from qfilter_spark.dist.probe import probe_hashes
from qfilter_spark.functions.ngrams import ngram_hashes
from qfilter_spark.hashing import xxh64_str, xxh64_u64_chain
from qfilter_spark import sketches

from conftest import N_DOCS  # shared session fixtures live in conftest


# ---------------------------------------------------------------------------
# corpus determinism + per-row token equality (input_hint invariant)
# ---------------------------------------------------------------------------

def test_corpus_row_reproducible(corpus_df):
    rows = corpus_df.where("doc_id = 'doc-000000000007'").collect()
    assert len(rows) == 1
    _, want_tokens, want_n, want_source = corpus.gen_doc(7)
    row = rows[0]
    assert row["n_tok"] == want_n
    assert row["source"] == want_source
    assert np.array_equal(np.array(row["tokens"], dtype=np.int32), want_tokens)


def test_corpus_distributed_generation_identical(spark, corpus_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "dist")
    corpus.write_corpus_distributed(spark, path, 200, n_partitions=4)
    got = {r["doc_id"]: (r["tokens"], r["source"])
           for r in spark.read.parquet(path).collect()}
    assert len(got) == 200
    # per-row invariant (input_hint): token-array equality for EVERY row
    for i in range(200):
        d, t, n, s = corpus.gen_doc(i)
        assert got[d][1] == s
        assert list(got[d][0]) == t.tolist(), d


def test_corpus_skew(corpus_df):
    counts = {r["source"]: r["cnt"] for r in
              corpus_df.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    top = max(counts.values()) / N_DOCS
    assert 0.40 <= top <= 0.55, counts  # F1: top source ~45-50%


# ---------------------------------------------------------------------------
# hash parity: JVM xxhash64 == numpy kernels (live check)
# ---------------------------------------------------------------------------

def test_ngram_hash_parity_with_jvm(spark, corpus_df):
    from pyspark.sql import functions as F
    # JVM side: posexplode 3-grams of one doc, chain-hash as longs
    doc = corpus_df.where("doc_id = 'doc-000000000003'")
    jvm = (doc.select(F.posexplode("tokens").alias("p", "t"))
           .withColumn("t1", F.lead("t", 1).over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("p")))
           .withColumn("t2", F.lead("t", 2).over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("p")))
           .dropna()
           .select(F.xxhash64(F.col("t").cast("long"), F.col("t1").cast("long"),
                              F.col("t2").cast("long")).alias("h"))
           .collect())
    jvm_hashes = np.array(sorted(r["h"] for r in jvm), dtype=np.int64)
    _, tokens, _, _ = corpus.gen_doc(3)
    flat = tokens.astype(np.int64)
    offsets = np.array([0, flat.size], dtype=np.int64)
    mine = np.sort(ngram_hashes(flat, offsets, 3).view(np.int64))
    assert np.array_equal(jvm_hashes, mine)


def test_string_hash_parity_with_jvm(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([("doc-000000000001",), ("héllo ✓",)], "s: string")
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    want = [int(np.int64(np.uint64(xxh64_str(s)))) for s in ["doc-000000000001", "héllo ✓"]]
    assert got == want


def test_composite_key_hash_parity_with_jvm(spark):
    """hash_obj over tuples == multi-column F.xxhash64 (T: Hash analog)."""
    from pyspark.sql import functions as F

    from qfilter_spark.hashing import hash_obj

    rows = [(7, "alpha", 123456789), (-1, "héllo ✓", 0)]
    df = spark.createDataFrame(rows, "a long, s string, b long")
    got = [r[0] for r in
           df.select(F.xxhash64("a", "s", "b")).collect()]
    want = [int(np.int64(np.uint64(hash_obj((a, s, b))))) for a, s, b in rows]
    assert got == want


def test_mixed_type_key_hash_parity_with_jvm(spark):
    """hash_obj over (long, double, string-or-null) == F.xxhash64 chain,
    including -0.0/NaN normalization and null-lane skipping."""
    from pyspark.sql import functions as F

    from qfilter_spark.hashing import hash_obj

    rows = [(7, 1.5, "alpha"), (-1, -0.0, None), (0, float("nan"), "z"),
            (3, 0.0, None)]
    df = spark.createDataFrame(rows, "a long, d double, s string")
    got = [r[0] for r in df.select(F.xxhash64("a", "d", "s")).collect()]
    want = [int(np.int64(np.uint64(hash_obj((a, d, s))))) for a, d, s in rows]
    assert got == want


# ---------------------------------------------------------------------------
# distributed build + probe + single-node parity (F4)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="session")
def ngram_spec():
    return SketchSpec(kind="rsqf",
                      params=dict(capacity=1 << 21, fp_rate=0.01,
                                  resizeable_from=1 << 12),
                      mode="tokens_ngram", col="tokens", ngram_n=3)


@pytest.fixture(scope="session")
def built_blob(corpus_df, ngram_spec):
    return build_sketch(corpus_df, ngram_spec, fan_in=4)


def test_distributed_equals_single_node(corpus_df, ngram_spec, built_blob):
    # single-node reference: same corpus through the numpy path
    cols = corpus.gen_range(0, N_DOCS)
    flat = np.concatenate([t.astype(np.int64) for t in cols["tokens"]])
    offsets = np.concatenate([[0], np.cumsum([len(t) for t in cols["tokens"]])])
    hashes = ngram_hashes(flat, offsets, 3)
    single = ngram_spec.make()
    single.update_hashes(hashes)

    dist = sketches.loads(built_blob)
    assert len(dist.filter) == len(single.filter) == hashes.size
    assert np.array_equal(dist.filter.fingerprints(), single.filter.fingerprints())


def test_probe_no_false_negatives(spark, corpus_df, built_blob):
    from pyspark.sql import functions as F
    # probe a sample of present n-grams via the DF API
    cols = corpus.gen_range(0, 50)
    flat = np.concatenate([t.astype(np.int64) for t in cols["tokens"]])
    offsets = np.concatenate([[0], np.cumsum([len(t) for t in cols["tokens"]])])
    present = ngram_hashes(flat, offsets, 3).view(np.int64)
    df = spark.createDataFrame([(int(h),) for h in present[:5000]], "h: long")
    probed = probe_hashes(df, built_blob, "h", out_col="c")
    assert probed.where("c <= 0").count() == 0


def test_probe_fpr_bound(spark, built_blob):
    rng = np.random.default_rng(0)
    absent = rng.integers(-2**63, 2**63, size=50_000, dtype=np.int64)
    df = spark.createDataFrame([(int(h),) for h in absent], "h: long")
    hits = probe_hashes(df, built_blob, "h", out_col="c", as_bool=True) \
        .where("c").count()
    sk = sketches.loads(built_blob)
    bound = sk.filter.max_error_ratio()
    assert hits / 50_000 <= bound, (hits / 50_000, bound)


def test_merge_order_invariance_distributed(spark, corpus_df, ngram_spec):
    """F4: permuted merge orders / tree shapes -> identical blobs."""
    parts = partial_sketches(corpus_df, ngram_spec).collect()
    payloads = [bytes(r["payload"]) for r in parts]

    def reduce_in_order(order, fan_in):
        blobs = [payloads[i] for i in order]
        while len(blobs) > 1:
            grouped = [blobs[i:i + fan_in] for i in range(0, len(blobs), fan_in)]
            nxt = []
            for g in grouped:
                acc = sketches.loads(g[0])
                for other in g[1:]:
                    acc.merge(sketches.loads(other))
                nxt.append(acc.to_bytes())
            blobs = nxt
        return blobs[0]

    ref = reduce_in_order(range(len(payloads)), 4)
    rng = np.random.default_rng(1)
    for trial in range(3):
        perm = rng.permutation(len(payloads))
        fan = [2, 3, 8][trial]
        assert reduce_in_order(perm, fan) == ref


def test_tree_merge_with_lineage_and_resume(spark, corpus_df, ngram_spec, tmp_path):
    ckpt = str(tmp_path / "lineage")
    parts = partial_sketches(corpus_df, ngram_spec)
    lineage = MergeLineage(spark, ckpt)
    blob = tree_merge(parts, fan_in=2, lineage=lineage, n_partials=8)
    rounds = lineage.complete_rounds()
    assert len(rounds) >= 3  # 8 -> 4 -> 2 -> 1 with fan_in=2
    # metrics present
    m = lineage.metrics(rounds[0])
    assert all("n_items" in r and "build_secs" in r for r in m)
    # simulate a crash after round 1: wipe later rounds, resume
    for rnd in rounds[2:]:
        shutil.rmtree(os.path.join(ckpt, f"round={rnd}"))
    resumed = resume_tree_merge(spark, ckpt, fan_in=2)
    assert resumed == blob


def test_tree_merge_rejects_undercounted_n_partials(corpus_df, ngram_spec):
    """Round-5 review: an n_partials below the real partial count ends the
    reduction loop with several roots; returning rows[0] would silently
    drop the other shards' contents. The guard must refuse instead."""
    parts = partial_sketches(corpus_df, ngram_spec)
    with pytest.raises(ValueError, match="roots remain"):
        tree_merge(parts, fan_in=4, n_partials=1)


def test_grouped_sketches_with_salting(spark, corpus_df):
    from pyspark.sql import functions as F
    spec = SketchSpec(kind="hll", params=dict(p=12), mode="hash_col", col="h")
    df = corpus_df.withColumn("h", F.xxhash64("doc_id"))
    per_source = build_grouped_sketches(df, "source", spec, n_salts=4)
    rows = per_source.collect()
    truth = {r["source"]: r["cnt"] for r in
             corpus_df.groupBy("source").agg(F.countDistinct("doc_id").alias("cnt")).collect()}
    assert {r["source"] for r in rows} == set(truth)
    for r in rows:
        est = sketches.loads(bytes(r["payload"])).estimate()
        true = truth[r["source"]]
        assert abs(est - true) <= max(4 * 1.04 / np.sqrt(4096) * true, 3), (r["source"], est, true)
        assert r["n_items"] == true  # doc_ids unique per source


def test_grouped_sketches_keep_group_column_type(spark):
    """A non-string group column comes back in its own Spark type."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    spec = SketchSpec(kind="hll", params=dict(p=10), mode="hash_col", col="h")
    df = spark.range(0, 300, numPartitions=3).select(
        (F.col("id") % 3).alias("g"), F.xxhash64("id").alias("h"))
    out = build_grouped_sketches(df, "g", spec, n_salts=2)
    assert out.columns == ["g", "n_items", "build_secs", "payload"]
    assert out.schema["g"].dataType == LongType()
    assert {r["g"]: r["n_items"] for r in out.collect()} == {0: 100, 1: 100, 2: 100}


GROUPED_SPECS = {
    "rsqf": SketchSpec("rsqf", dict(capacity=1 << 13, fp_rate=0.01), "hash_col", "h"),
    "hll": SketchSpec("hll", dict(p=12), "hash_col", "h"),
    "cms": SketchSpec("cms", dict(eps=0.01, delta=0.01), "tokens_ngram", "tokens"),
    "kll": SketchSpec("kll", dict(k=100), "values", "n_tok"),
}


@pytest.mark.parametrize("kind", list(GROUPED_SPECS))
def test_grouped_rsqf_equals_unsalted(spark, corpus_df, kind):
    """F4 skew fixture: each group's salted sketch equals the ungrouped
    build over that group's rows — bit-equal for the hash kinds, same n
    and n_items for the order-dependent KLL."""
    from pyspark.sql import functions as F
    spec = GROUPED_SPECS[kind]
    # the hot source plus three colder ones keeps the per-group builds few
    sources = corpus.SOURCE_NAMES[::3]
    df = (corpus_df.where(F.col("source").isin(sources))
          .withColumn("h", F.xxhash64("doc_id")))
    rows = build_grouped_sketches(df, "source", spec, n_salts=4).collect()
    assert sorted(r["source"] for r in rows) == sources
    for r in rows:
        want = build_sketch(
            df.where(F.col("source") == r["source"]).coalesce(2), spec)
        got = bytes(r["payload"])
        if kind == "kll":
            assert sketches.loads(got).n == sketches.loads(want).n == r["n_items"]
        else:
            assert got == want, r["source"]


def test_quantile_sketch_distributed(spark, corpus_df):
    spec = SketchSpec(kind="kll", params=dict(k=200), mode="values", col="n_tok")
    blob = build_sketch(corpus_df, spec, fan_in=4)
    sk = sketches.loads(blob)
    true = np.sort(np.array([corpus.gen_doc(i)[2] for i in range(N_DOCS)]))
    assert sk.n == N_DOCS
    for q in [0.1, 0.5, 0.9]:
        est = sk.quantile(q)
        rank = np.searchsorted(true, est, side="right") / N_DOCS
        assert abs(rank - q) <= 0.05, (q, est, rank)


def test_resume_defaults_to_manifest_fan_in(spark, corpus_df, ngram_spec,
                                            tmp_path):
    """Round-4 fix: resume without an explicit fan_in must reuse the
    original run's (recorded in manifest.json), not a different default —
    a different fan_in regroups shards and is bytes-visible for the
    weakly order-dependent quantile sketches."""
    ckpt = str(tmp_path / "lineage_manifest")
    parts = partial_sketches(corpus_df, ngram_spec)
    lineage = MergeLineage(spark, ckpt)
    blob = tree_merge(parts, fan_in=2, lineage=lineage, n_partials=8)
    assert lineage.manifest_fan_in() == 2
    rounds = lineage.complete_rounds()
    for rnd in rounds[2:]:
        shutil.rmtree(os.path.join(ckpt, f"round={rnd}"))
    assert resume_tree_merge(spark, ckpt) == blob  # no fan_in passed


def test_reused_lineage_dir_invalidates_stale_rounds(spark, corpus_df,
                                                     ngram_spec, tmp_path):
    """Round-4 fix: a new run writing round K into a reused directory must
    delete every round > K — otherwise a crash mid-run would resume into
    the PREVIOUS run's highest complete round and silently return the
    previous run's data."""
    ckpt = str(tmp_path / "lineage_reuse")
    parts = partial_sketches(corpus_df, ngram_spec)
    lineage = MergeLineage(spark, ckpt)
    tree_merge(parts, fan_in=2, lineage=lineage, n_partials=8)
    old_rounds = lineage.complete_rounds()
    assert len(old_rounds) >= 3
    # new run reuses the directory: its FIRST write must clear the rest
    lineage.write_round(parts, 0)
    assert lineage.complete_rounds() == [0]
    assert not os.path.exists(os.path.join(ckpt, f"round={old_rounds[-1]}"))


# ---------------------------------------------------------------------------
# probe_hashes failure modes (round-5 review)
# ---------------------------------------------------------------------------

def test_probe_hashes_rejects_bad_inputs_on_driver(spark):
    from pyspark.sql import functions as F

    from qfilter_spark import sketches
    from qfilter_spark.dist.probe import probe_hashes

    df = spark.range(10).select(F.xxhash64("id").alias("h"))
    blob = sketches.create("rsqf", capacity=64, fp_rate=0.01).to_bytes()
    with pytest.raises(ValueError, match="hash_col"):
        probe_hashes(df, blob, "nope")
    with pytest.raises(TypeError, match="hash-probe"):
        probe_hashes(df, sketches.create("kll").to_bytes(), "h")
    with pytest.raises(Exception):          # undecodable blob fails eagerly
        probe_hashes(df, b"garbage", "h")


def test_probe_hashes_null_hashes_refused(spark):
    from pyspark.sql import functions as F

    from qfilter_spark import sketches
    from qfilter_spark.dist.probe import probe_hashes

    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([(1,), (None,)], "h long")
    blob = sketches.create("rsqf", capacity=64, fp_rate=0.01).to_bytes()
    with pytest.raises(Exception) as ei:
        probe_hashes(df, blob, "h").collect()
    assert "NULL values" in str(ei.value)


def test_probe_hashes_empty_filter_and_empty_frame(spark):
    from pyspark.sql import functions as F

    from qfilter_spark import sketches
    from qfilter_spark.dist.probe import probe_hashes

    empty_filter = sketches.create("rsqf", capacity=64, fp_rate=0.01).to_bytes()
    df = spark.range(100).select(F.xxhash64("id").alias("h"))
    out = probe_hashes(df, empty_filter, "h", as_bool=True)
    assert out.where("est_count").count() == 0          # nothing contained
    empty_df = df.where("h IS NULL AND h IS NOT NULL")  # 0 rows
    assert probe_hashes(empty_df, empty_filter, "h").count() == 0


def test_sketch_cache_bounded_by_bytes(monkeypatch):
    """The per-worker decoded-sketch cache evicts by approximate resident
    BYTES, not just entry count: with python-worker reuse, four pinned
    multi-MB sketches would otherwise stay resident per worker for its
    lifetime (round-5 code-review finding)."""
    import qfilter_spark.dist.probe as probe_mod
    from qfilter_spark import sketches

    def blob_of(seed, n=20_000):
        rng = np.random.default_rng(seed)
        sk = sketches.create("rsqf", capacity=1 << 15)
        sk.update_hashes(rng.integers(0, 1 << 64, size=n, dtype=np.uint64))
        return sk.to_bytes()

    monkeypatch.setattr(probe_mod, "_SKETCH_CACHE", {})
    b1, b2, b3 = blob_of(1), blob_of(2), blob_of(3)
    probe_mod._load_cached(b1)
    one_cost = next(iter(probe_mod._SKETCH_CACHE.values()))[2]
    assert one_cost > len(b1)            # counts decoded arrays, not just blob
    # budget for about two entries: the third insert must evict the first
    monkeypatch.setattr(probe_mod, "_SKETCH_CACHE_MAX_BYTES",
                        int(one_cost * 2.5))
    probe_mod._load_cached(b2)
    assert len(probe_mod._SKETCH_CACHE) == 2
    probe_mod._load_cached(b3)
    assert len(probe_mod._SKETCH_CACHE) == 2
    assert id(b1) not in probe_mod._SKETCH_CACHE       # FIFO evicted
    # cache hit returns the identical decoded object (no re-decode)
    assert probe_mod._load_cached(b3) is probe_mod._load_cached(b3)
    # an over-budget single sketch still caches (cache of one)
    monkeypatch.setattr(probe_mod, "_SKETCH_CACHE_MAX_BYTES", 1)
    probe_mod._load_cached(b1)
    assert list(e[0] for e in probe_mod._SKETCH_CACHE.values()) == [b1]


def test_build_null_hashes_refused(spark):
    """The BUILD side must refuse NULL hashes like the probe side does:
    pandas/Arrow silently cast NaN (a NULL) to INT64_MIN, so without the
    check every missing value becomes the same garbage fingerprint — and a
    later probe of the same frame raises while the corrupted build passed."""
    from qfilter_spark.dist import SketchSpec, build_sketch
    from qfilter_spark.dist.agg import build_grouped_sketches

    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, "a")], "h long, g string")
    spec = SketchSpec("rsqf", dict(capacity=64, fp_rate=0.01), "hash_col", "h")
    with pytest.raises(Exception) as ei:
        build_sketch(df.repartition(2), spec)
    assert "NULL values" in str(ei.value)
    with pytest.raises(Exception) as ei:
        build_grouped_sketches(df, "g", spec, n_salts=2).collect()
    assert "NULL values" in str(ei.value)


def test_sharded_probe_and_remove_null_hashes_refused(spark):
    """NULL probe/removal hashes route to a NULL shard and reach the group
    kernels; they must be refused there, not laundered (same contract as
    probe_hashes)."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist import SketchSpec
    from qfilter_spark.dist.sharded import (
        build_sharded_filter, count_sharded, probe_sharded, remove_sharded)

    spec = SketchSpec("rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h")
    src = spark.range(500).select(F.xxhash64("id").alias("h"))
    fdf = build_sharded_filter(src, spec, n_shards=4)
    fdf.cache().count()
    bad = spark.createDataFrame([(1,), (None,)], "h long")
    with pytest.raises(Exception) as ei:
        probe_sharded(bad, "h", fdf, 4, spec).collect()
    assert "NULL values" in str(ei.value)
    with pytest.raises(Exception) as ei:
        remove_sharded(fdf, bad, "h", 4, spec).collect()
    assert "NULL values" in str(ei.value)
    with pytest.raises(Exception) as ei:
        count_sharded(bad, "h", fdf, 4, spec).collect()
    assert "NULL values" in str(ei.value)
    fdf.unpersist()


def test_grouped_build_null_tokens_row_is_empty_doc(spark, corpus_df):
    """A NULL tokens array in the grouped (pandas) build counts as an empty
    document — the same zero-extent semantics the Arrow path's
    flat_from_arrow gives null list slots — instead of raising len(None)."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist import SketchSpec
    from qfilter_spark.dist.agg import build_grouped_sketches
    from qfilter_spark import sketches

    df = corpus_df.limit(40).withColumn(
        "tokens", F.when(F.col("n_tok") % 2 == 0, F.col("tokens")))
    assert df.where("tokens IS NULL").count() > 0
    spec = SketchSpec("hll", dict(p=12), "tokens_ngram", "tokens", ngram_n=3)
    rows = build_grouped_sketches(df, "source", spec, n_salts=2).collect()
    # every sketch decodes and the NULL rows contributed nothing
    with_nulls = {r["source"]: sketches.loads(bytes(r["payload"])).estimate()
                  for r in rows}
    dropped = df.where("tokens IS NOT NULL")
    rows2 = build_grouped_sketches(dropped, "source", spec, n_salts=2).collect()
    without = {r["source"]: sketches.loads(bytes(r["payload"])).estimate()
               for r in rows2}
    for src_name, est in without.items():
        assert with_nulls[src_name] == pytest.approx(est)
