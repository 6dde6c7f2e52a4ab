"""Bad sketch kinds, modes and sharded specs fail with a named error on the
driver, before any Spark job runs."""

import pytest
from pyspark.sql import functions as F

from qfilter_spark import sketches
from qfilter_spark.dist import SketchSpec, sharded

HLL = SketchSpec("hll", dict(p=12), "hash_col", "h")
RSQF = SketchSpec("rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h")

OPS = {
    "build": lambda df, n: sharded.build_sharded_filter(df, HLL, n),
    "split_build": lambda df, n: sharded.build_sharded_filter_split(
        df, HLL, n, 100),
    "insert": lambda df, n: sharded.insert_sharded(df, df, HLL, n, HLL),
    "probe_chunks": lambda df, n: sharded.probe_sharded_chunks(
        df, HLL, df, n, HLL),
    "probe": lambda df, n: sharded.probe_sharded(df, "h", df, n, HLL),
    "count": lambda df, n: sharded.count_sharded(df, "h", df, n, HLL),
    "remove": lambda df, n: sharded.remove_sharded(df, df, "h", n, HLL),
    "to_single": lambda df, n: sharded.sharded_to_single(df, HLL, n),
}


@pytest.mark.parametrize("routing", ["int", "directory"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_sharded_ops_refuse_non_rsqf_spec(spark, op, routing):
    n_shards = 16 if routing == "int" else sharded._directory(16, RSQF)
    df = spark.range(0, 100).select(F.xxhash64("id").alias("h"))
    sc = spark.sparkContext
    sc.setJobGroup("non_rsqf_spec", "refused before any job")
    try:
        with pytest.raises(ValueError, match="rsqf sketches, got kind 'hll'"):
            OPS[op](df, n_shards)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("non_rsqf_spec")


def test_create_unknown_kind_names_known_kinds():
    with pytest.raises(ValueError,
                       match="unknown sketch kind 'nope'; known kinds: rsqf,"):
        sketches.create("nope")


def test_spec_refuses_unknown_mode():
    with pytest.raises(ValueError, match="unknown mode 'bogus'; known modes: "
                                         "hash_col, tokens_ngram, values"):
        SketchSpec("hll", dict(p=12), mode="bogus", col="h")


def test_split_build_refuses_a_directory(spark):
    """The split build plans its own directory from an int shard count: a
    ShardDirectory is refused by name before its planning job runs."""
    df = spark.range(0, 2000).select(F.xxhash64("id").alias("h"))
    sc = spark.sparkContext
    sc.setJobGroup("split_directory", "refused before any job")
    try:
        with pytest.raises(ValueError, match="pass n_shards as an int"):
            sharded.build_sharded_filter_split(
                df, RSQF, sharded._directory(16, RSQF), 100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("split_directory")
