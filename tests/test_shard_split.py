"""Hot-shard splitting: bounded rows under fingerprint-prefix skew,
bit-equal union, correct probes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfilter_spark import sketches
from qfilter_spark.dist import SketchSpec, build_sketch
from qfilter_spark.dist.sharded import (build_sharded_filter_split,
                                        probe_sharded, probe_sharded_chunks,
                                        sharded_to_single, _fp_meta)


@pytest.fixture(scope="module")
def skewed(spark):
    """50% of fingerprints land in shard 3 of 16 (prefix-engineered),
    the rest uniform. Returns (df, spec, n_shards, n_rows)."""
    n = 8000
    spec = SketchSpec("rsqf", dict(capacity=2 * n, fp_rate=0.01), "hash_col", "h")
    _, _, fs = _fp_meta(spec)
    k = 4
    shift, low_mask = fs - k, (1 << (fs - k)) - 1
    uniform = spark.range(0, n).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    hot = spark.range(n, 2 * n).select(
        (F.lit(3).cast("long") * F.lit(1 << shift)
         + (F.xxhash64(F.col("id").cast("long"))
            .bitwiseAND(F.lit(low_mask)))).alias("h"))
    return uniform.union(hot).repartition(8), spec, 16, 2 * n


def test_split_bounds_row_sizes(spark, skewed):
    df, spec, n_shards, n = skewed
    cap = n // 6
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=cap)
    assert not filt.storageLevel.useMemory
    rows = filt.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["n_fps"])
    # the hot shard actually split into multiple rows
    assert len(by_shard[3]) >= 3, by_shard
    # sampled quantile split: every row within 1.5x of the target bound
    assert max(r["n_fps"] for r in rows) <= 1.5 * cap, sorted(
        (r["n_fps"] for r in rows), reverse=True)[:5]
    # directory rows and table rows agree
    assert len(rows) == len(directory.starts) - sum(
        1 for i in range(len(directory.starts))
        if not any(r["key"] == i for r in rows))


def test_split_union_bit_equal_to_single(spark, skewed):
    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6)
    single = sketches.loads(build_sketch(df, spec, fan_in=8))
    merged = sketches.loads(sharded_to_single(filt, spec, directory))
    assert np.array_equal(merged.filter.fingerprints(),
                          single.filter.fingerprints())


def test_split_remove_then_probe(spark, skewed):
    from qfilter_spark.dist.sharded import remove_sharded

    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6)
    before = filt.groupBy().sum("n_fps").collect()[0][0]
    # remove a quarter of the uniform keys (fingerprint-width collisions
    # make exact-count asserts off by a handful; tolerances cover them)
    uniform = spark.range(0, n // 2).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    after = remove_sharded(filt, uniform, "h", directory, spec).cache()
    removed = before - after.groupBy().sum("n_fps").collect()[0][0]
    assert n // 2 - 20 <= removed <= n // 2, removed
    stats = (probe_sharded_chunks(uniform, spec, after, directory, spec)
             .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert int(stats[1]) <= 20  # removed fingerprints gone (collision slack)
    after.unpersist()


def test_shrink_sharded_reclaims_bytes_keeps_answers(spark, skewed):
    from qfilter_spark import sketches as SK
    from qfilter_spark.dist.sharded import (build_sharded_filter,
                                            probe_sharded, remove_sharded,
                                            shrink_sharded)

    df, spec, n_shards, n = skewed
    filt = build_sharded_filter(df, spec, n_shards=n_shards).cache()
    # drain 75% of the uniform keys, then shrink every shard
    rm = spark.range(0, (3 * n) // 8).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    after = remove_sharded(filt, rm, "h", n_shards, spec).cache()
    shrunk = shrink_sharded(after).cache()
    rows_b = {r["shard"]: r for r in after.collect()}
    rows_s = {r["shard"]: r for r in shrunk.collect()}
    assert rows_s.keys() == rows_b.keys()
    bytes_before = sum(len(r["payload"]) for r in rows_b.values())
    bytes_after = sum(len(r["payload"]) for r in rows_s.values())
    assert bytes_after < bytes_before  # blocks reclaimed somewhere
    for s in rows_b:
        fb = SK.loads(bytes(rows_b[s]["payload"])).filter
        fs = SK.loads(bytes(rows_s[s]["payload"])).filter
        assert np.array_equal(fb.fingerprints(), fs.fingerprints())
        assert fs.fingerprint_size() == fb.fingerprint_size()
    # remaining keys still all found through the shrunk table
    keep = df.join(rm, "h", "left_anti")
    stats = (probe_sharded(keep, "h", shrunk, n_shards, spec)
             .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert int(stats[0]) == int(stats[1])
    filt.unpersist(); after.unpersist(); shrunk.unpersist()


def test_split_probe_zero_false_negatives(spark, skewed):
    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6)
    stats = (probe_sharded_chunks(df, spec, filt, directory, spec)
             .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert int(stats[0]) == n
    assert int(stats[1]) == n  # every inserted fingerprint found
    # absent keys: FPR within the configured bound (with slack)
    absent = spark.range(10**9, 10**9 + 20000).select(
        F.xxhash64(F.col("id").cast("long")).alias("h"))
    a = (probe_sharded_chunks(absent, spec, filt, directory, spec)
         .groupBy().sum("n_probed", "n_contained").collect()[0])
    sk = spec.make()
    assert int(a[1]) / int(a[0]) <= 4 * sk.filter.max_error_ratio() + 0.001


def test_split_table_reads_back_and_probes(spark, skewed, tmp_path):
    """A stored split table reads back with its ``key`` column, so its
    directory still routes probes to it."""
    from qfilter_spark import sources

    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6)
    path = str(tmp_path / "split")
    sources.write_filter_table(filt, path)
    back = sources.read_filter_table(spark, path)
    assert back.columns == ["key", "shard", "n_fps", "payload"]
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, filt.collect()))
    stats = (probe_sharded(df, "h", back, directory, spec)
             .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert (int(stats[0]), int(stats[1])) == (n, n)


@pytest.mark.parametrize("bad", [0, -1])
def test_split_rejects_max_fps_per_row_below_one(spark, skewed, bad):
    df, spec, n_shards, _ = skewed
    sc = spark.sparkContext
    sc.setJobGroup("split_bad_max", "refused before any job")
    try:
        with pytest.raises(ValueError,
                           match=f"max_fps_per_row must be >= 1, got {bad}"):
            build_sharded_filter_split(df, spec, n_shards=n_shards,
                                       max_fps_per_row=bad)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("split_bad_max")


def test_split_build_leaves_nothing_behind(spark, skewed, tmp_path):
    """The split build writes no intermediate table and caches nothing:
    its table is as lazy as the ordinary build's."""
    import os

    df, spec, n_shards, n = skewed
    key = "spark.qfilter.intermediateDir"
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    spark.conf.set(key, str(tmp_path))
    try:
        filt, _ = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                             max_fps_per_row=n // 6)
        assert sum(r["n_fps"] for r in filt.collect()) == n
    finally:
        spark.conf.unset(key)
    assert os.listdir(tmp_path) == []
    assert set(persistent().keys()) == before
