"""Hot-shard splitting: bounded rows under fingerprint-prefix skew,
bit-equal union, correct probes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfilter_spark import sketches
from qfilter_spark.dist import SketchSpec, build_sketch
from qfilter_spark.dist.sharded import (build_sharded_filter_split,
                                        probe_sharded_chunks,
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


def test_split_bounds_row_sizes(spark, skewed, tmp_path):
    import os

    df, spec, n_shards, n = skewed
    cap = n // 6
    at_rest = str(tmp_path / "split_table")
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=cap,
                                                 path=at_rest)
    # the at-rest form IS a parquet dir at the requested path (no persisted
    # DataFrame, no unpersist contract)
    assert os.path.isdir(at_rest)
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


def test_split_union_bit_equal_to_single(spark, skewed, tmp_path):
    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6,
                                                 path=str(tmp_path / "t"))
    single = sketches.loads(build_sketch(df, spec, fan_in=8))
    merged = sketches.loads(sharded_to_single(filt, spec, directory))
    assert np.array_equal(merged.filter.fingerprints(),
                          single.filter.fingerprints())


def test_split_remove_then_probe(spark, skewed, tmp_path):
    from qfilter_spark.dist.sharded import remove_sharded

    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6,
                                                 path=str(tmp_path / "t"))
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


def test_split_probe_zero_false_negatives(spark, skewed, tmp_path):
    df, spec, n_shards, n = skewed
    filt, directory = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                                 max_fps_per_row=n // 6,
                                                 path=str(tmp_path / "t"))
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


def test_retire_split_filter_removes_dir(spark, skewed, tmp_path):
    import os

    from qfilter_spark.dist.sharded import retire_split_filter

    df, spec, n_shards, n = skewed
    at_rest = str(tmp_path / "retire_me")
    filt, _ = build_sharded_filter_split(df, spec, n_shards=n_shards,
                                         max_fps_per_row=n // 6,
                                         path=at_rest)
    assert os.path.isdir(at_rest)
    retire_split_filter(filt)
    assert not os.path.exists(at_rest)
    # a re-read DataFrame with no attached path and no files is a no-op
    retire_split_filter(spark.range(0).selectExpr(
        "cast(id as int) key", "cast(id as int) shard",
        "id n_fps", "cast(null as binary) payload"))
