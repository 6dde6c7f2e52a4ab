"""Range-sharded filter: union of shards == single-blob filter, bit-for-bit;
co-partitioned probe agrees with broadcast probe."""

import numpy as np
import pytest

from qfilter_spark import sketches
from qfilter_spark.dist import SketchSpec, build_sketch
from qfilter_spark.dist.sharded import (
    build_sharded_filter,
    probe_sharded,
    sharded_to_single,
)



@pytest.fixture(scope="session")
def hashed_df(corpus_df):
    from pyspark.sql import functions as F
    return corpus_df.withColumn("h", F.xxhash64("doc_id"))


SPEC = SketchSpec("rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h")


def test_sharded_equals_single_blob(spark, hashed_df):  # noqa: F811
    single = sketches.loads(build_sketch(hashed_df, SPEC, fan_in=8))
    sharded_df = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    rows = sharded_df.collect()
    assert 1 <= len(rows) <= 8
    assert sum(r["n_fps"] for r in rows) == len(single.filter)
    merged = sketches.loads(sharded_to_single(sharded_df, SPEC, 8))
    assert np.array_equal(merged.filter.fingerprints(), single.filter.fingerprints())
    # shard blobs hold shard-LOCAL fingerprints (fs-k bits each)
    k = 3
    fs = single.filter.fingerprint_size()
    for r in rows:
        fps = sketches.loads(r["payload"]).filter.fingerprints()
        assert (fps < np.uint64(1) << np.uint64(fs - k)).all()


def test_sharded_probe_counts(spark, hashed_df):  # noqa: F811
    filter_df = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    stats = probe_sharded(hashed_df, "h", filter_df, 8, SPEC) \
        .groupBy().sum("n_probed", "n_contained").collect()[0]
    n = hashed_df.count()
    assert stats[0] == n
    assert stats[1] == n  # zero false negatives


def test_sharded_probe_absent_fpr(spark, hashed_df):  # noqa: F811
    from pyspark.sql import functions as F
    filter_df = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    absent = spark.range(10**9, 10**9 + 20_000).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    stats = probe_sharded(absent, "h", filter_df, 8, SPEC) \
        .groupBy().sum("n_probed", "n_contained").collect()[0]
    assert stats[0] == 20_000
    sk_params = SPEC.make().filter
    assert stats[1] / 20_000 <= sk_params.max_error_ratio()


def test_count_sharded_matches_single_filter(spark, hashed_df):
    """Per-key counts through the sharded layout == single-filter
    count_hashes for every probe (multiplicity is shard-local)."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist.sharded import count_sharded

    # duplicated keys so multiplicities > 1 are exercised
    dup = hashed_df.select("h").union(
        hashed_df.where(F.pmod(F.col("h"), F.lit(3)) == 0).select("h"))
    spec = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.001),
                      "hash_col", "h")
    filter_df = build_sharded_filter(dup, spec, n_shards=8)
    single = sketches.loads(build_sketch(dup, spec, fan_in=8))
    probes = hashed_df.select("h").distinct()
    got = {r["h"]: r["est"]
           for r in count_sharded(probes, "h", filter_df, 8, spec).collect()}
    hs = np.array(sorted(got), dtype=np.int64).view(np.uint64)
    want = single.count_hashes(hs)
    assert [got[int(np.int64(h))] for h in hs] == [int(w) for w in want]
    assert any(v >= 2 for v in got.values())  # duplicates really counted


def test_probe_sharded_chunks_matches_row_probe(spark, hashed_df):
    from qfilter_spark.dist.sharded import probe_sharded_chunks
    filter_df = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    row_stats = probe_sharded(hashed_df, "h", filter_df, 8, SPEC) \
        .groupBy().sum("n_probed", "n_contained").collect()[0]
    chunk_stats = probe_sharded_chunks(hashed_df, SPEC, filter_df, 8, SPEC) \
        .groupBy().sum("n_probed", "n_contained").collect()[0]
    assert tuple(row_stats) == tuple(chunk_stats)
    assert chunk_stats[0] == chunk_stats[1]  # all present


def test_remove_sharded_matches_single_node(spark, hashed_df):
    from pyspark.sql import functions as F
    from qfilter_spark.dist.sharded import remove_sharded
    filter_df = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    removals = hashed_df.where("n_tok % 2 = 0").select("h")
    n_remove = removals.count()
    new_filter = remove_sharded(filter_df, removals, "h", 8, SPEC)
    merged = sketches.loads(sharded_to_single(new_filter, SPEC, 8))

    # single-node reference: same removals on the collapsed filter
    single = sketches.loads(sharded_to_single(filter_df, SPEC, 8))
    h = np.array([r["h"] for r in removals.collect()], dtype=np.int64).view(np.uint64)
    single.filter.remove_hashes(h)
    assert np.array_equal(merged.filter.fingerprints(), single.filter.fingerprints())
    assert len(merged.filter) == hashed_df.count() - n_remove
    # remaining rows all still contained
    keep = hashed_df.where("n_tok % 2 != 0")
    stats = probe_sharded(keep, "h", new_filter, 8, SPEC) \
        .groupBy().sum("n_probed", "n_contained").collect()[0]
    assert stats[0] == stats[1]


def test_build_spill_waves_identical(spark, hashed_df, monkeypatch):
    """A tiny emitter buffer forces multiple chunk waves per task; result
    unchanged."""
    from qfilter_spark.dist import agg

    a = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    pa_ = {r["shard"]: bytes(r["payload"]) for r in a.collect()}
    monkeypatch.setattr(agg, "_MAX_BUFFER", 50)
    b = build_sharded_filter(hashed_df, SPEC, n_shards=8)
    pb = {r["shard"]: bytes(r["payload"]) for r in b.collect()}
    assert pa_ == pb


def test_waves_join_batches_up_to_the_limit():
    import pyarrow as pa

    from qfilter_spark.dist.agg import _waves

    batches = [pa.record_batch([pa.array(np.arange(k), pa.int64())], names=["h"])
               for k in (30, 0, 30, 30, 10)]
    assert [w.size for w in _waves(SPEC, batches, 0)] == [30, 30, 30, 10]
    assert [w.size for w in _waves(SPEC, batches, 50)] == [60, 40]


def test_build_sketch_fold_waves_identical(spark, hashed_df, monkeypatch):
    """Small Arrow batches and a tiny wave limit make the RSQF build fold
    several bulk waves per task; the sketch bytes are unchanged."""
    from qfilter_spark.dist import agg

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        a = build_sketch(hashed_df, SPEC)
        monkeypatch.setattr(agg, "_MAX_BUFFER", 50)
        b = build_sketch(hashed_df, SPEC)
    finally:
        spark.conf.set(key, old)
    assert a == b


@pytest.mark.parametrize("bad", [0, 3, 6, -4, 2.5])
def test_shard_bits_for_rejects_non_power_of_two(bad):
    from qfilter_spark.dist.sharded import shard_bits_for

    with pytest.raises(ValueError, match=f"power of two, got {bad!r}"):
        shard_bits_for(bad)
    assert shard_bits_for(1) == 0 and shard_bits_for(64) == 6


def test_builders_reject_shard_prefix_wider_than_quotient(spark, hashed_df):
    from qfilter_spark.dist.sharded import _fp_meta, build_sharded_filter_split

    qbits, _, _ = _fp_meta(SPEC)
    too_many = 2 << qbits  # qbits + 1 prefix bits
    for build in (build_sharded_filter, build_sharded_filter_split):
        with pytest.raises(ValueError, match=f"n_shards={too_many} needs a "
                           f"{qbits + 1}-bit shard prefix"):
            build(hashed_df, SPEC, n_shards=too_many)
