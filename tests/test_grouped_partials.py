"""The grouped build as keyed partials: each input task folds its rows per
group (no raw-row Exchange), then the tree merge's keyed rounds merge each
group to one row. Plan shape, skew, high cardinality, NULL keys, empty
input, determinism and the group-column names the build reserves.
"""

import pytest

from qfilter_spark import sketches
from qfilter_spark.dist import (
    SketchSpec, build_grouped_sketches, build_sketch, partial_sketches)

HLL = SketchSpec("hll", dict(p=10), "hash_col", "h")


def _formatted(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


@pytest.mark.parametrize(
    "name", ["grp", "shard_id", "n_items", "build_secs", "payload"])
def test_reserved_group_column_rejected(spark, name):
    """A group column named like a column the build adds would be
    overwritten (``grp``: every group merged into one row) or ambiguous;
    it is refused by name before any job runs."""
    from pyspark.sql import functions as F

    df = spark.range(0, 300, numPartitions=3).select(
        (F.col("id") % 3).alias(name), F.xxhash64("id").alias("h"))
    sc = spark.sparkContext
    sc.setJobGroup("reserved", "reserved group column")
    try:
        with pytest.raises(ValueError, match=f"group column '{name}'"):
            build_grouped_sketches(df, name, HLL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("reserved")


def test_one_partition_input_is_one_job_one_stage(spark, tmp_path):
    """A 1-task input holds at most one partial per group: no merge round,
    no Exchange, one job of one stage. (A one-file Parquet scan does not
    report a single partition to the planner, so a shuffle of its rows
    would plan an Exchange.)"""
    from pyspark.sql import functions as F

    path = str(tmp_path / "one_file")
    spark.range(0, 300, numPartitions=1).select(
        (F.col("id") % 3).alias("g"), F.xxhash64("id").alias("h")
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    build_grouped_sketches(df, "g", HLL).collect()  # warm-up
    sc = spark.sparkContext
    sc.setJobGroup("1001", "grouped build, one partition")
    try:
        out = build_grouped_sketches(df, "g", HLL)
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("1001")
    assert len(jobs) == 1
    assert sum(len(st.getJobInfo(j).stageIds) for j in jobs) == 1
    assert "Exchange" not in _formatted(out)
    assert sorted((r["g"], r["n_items"]) for r in rows) == [
        (0, 100), (1, 100), (2, 100)]


@pytest.mark.usefixtures("unsized_inputs")
def test_hot_group_folds_in_every_input_task(spark):
    """A group holding 90% of the rows is folded where its rows are, in
    all 4 input tasks; raw rows never cross an Exchange."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4000, numPartitions=4).select(
        F.when(F.col("id") % 10 == 0, (F.col("id") % 7).cast("string"))
        .otherwise(F.lit("hot")).alias("g"),
        F.xxhash64("id").alias("h"))
    parts = partial_sketches(df, HLL, _key="g")
    below = _formatted(parts).split("\n\n")[0].split("MapInArrow", 1)[1]
    assert "Exchange" not in below
    hot = [r for r in parts.collect() if r["g"] == "hot"]
    assert sorted(r["shard_id"] for r in hot) == [0, 1, 2, 3]
    assert sum(r["n_items"] for r in hot) == 3600
    rows = {r["g"]: r for r in build_grouped_sketches(df, "g", HLL).collect()}
    assert rows["hot"]["n_items"] == 3600
    assert bytes(rows["hot"]["payload"]) == build_sketch(
        df.where(F.col("g") == "hot"), HLL)


@pytest.mark.usefixtures("unsized_inputs")
def test_high_cardinality_one_row_per_key(spark):
    """About 2000 keys over 4 tasks, with Arrow batches cutting the runs of
    equal keys: each task emits one partial per key it holds, and the
    build one row per key with the exact item count."""
    from pyspark.sql import functions as F

    n_keys, per_key = 2000, 6
    df = spark.range(0, n_keys * per_key, numPartitions=4).select(
        (F.col("id") % n_keys).alias("g"), F.xxhash64("id").alias("h"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        parts = partial_sketches(df, HLL, _key="g").collect()
        rows = build_grouped_sketches(df, "g", HLL).collect()
    finally:
        spark.conf.set(key, old)
    assert len({(r["g"], r["shard_id"]) for r in parts}) == len(parts)
    assert sorted(r["g"] for r in rows) == list(range(n_keys))
    assert {r["n_items"] for r in rows} == {per_key}
    for r in rows[:: n_keys // 4]:
        want = build_sketch(df.where(F.col("g") == r["g"]), HLL)
        assert bytes(r["payload"]) == want, r["g"]


@pytest.mark.usefixtures("unsized_inputs")
def test_more_than_16_tasks_take_two_keyed_rounds(spark):
    """20 partials of a group exceed tree_merge's default fan_in of 16: one
    keyed round merges them into 2 rows per group, and the last round into
    one."""
    from pyspark.sql import functions as F

    df = spark.range(0, 2000, numPartitions=20).select(
        (F.col("id") % 3).alias("g"), F.xxhash64("id").alias("h"))
    out = build_grouped_sketches(df, "g", HLL)
    assert _formatted(out).split("\n\n")[0].count("FlatMapGroupsInPandas") == 2
    rows = out.collect()
    assert sorted(r["g"] for r in rows) == [0, 1, 2]
    for r in rows:
        group = df.where(F.col("g") == r["g"])
        assert r["n_items"] == group.count()
        assert bytes(r["payload"]) == build_sketch(group, HLL), r["g"]


@pytest.mark.usefixtures("unsized_inputs")
@pytest.mark.parametrize("key_type", ["long", "string"])
def test_null_key_is_one_group(spark, key_type):
    """NULL keys form one group, like Spark's groupBy, with the sketch of
    the NULL-key rows."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400, numPartitions=4).select(
        F.when(F.col("id") % 4 != 0, F.col("id") % 3).cast(key_type)
        .alias("g"), F.xxhash64("id").alias("h"))
    rows = build_grouped_sketches(df, "g", HLL).collect()
    assert len(rows) == 4
    null = [r for r in rows if r["g"] is None]
    assert len(null) == 1 and null[0]["n_items"] == 100
    assert bytes(null[0]["payload"]) == build_sketch(
        df.where(F.col("g").isNull()), HLL)


def test_empty_input_gives_no_rows(spark):
    df = spark.createDataFrame([], "g string, h long")
    assert build_grouped_sketches(df, "g", HLL).collect() == []
    assert build_grouped_sketches(df.repartition(3), "g", HLL).collect() == []


@pytest.mark.usefixtures("unsized_inputs")
def test_grouped_kll_is_deterministic(spark):
    """The weakly order-dependent KLL gives the same bytes run to run: each
    task folds a group's rows in sorted order and the merge rounds order
    partials by shard_id."""
    from pyspark.sql import functions as F

    df = spark.range(0, 6000, numPartitions=4).select(
        (F.col("id") % 5).alias("g"), (F.sin("id") * 1000).alias("v"))
    spec = SketchSpec("kll", dict(k=50), "values", "v")

    def build():
        return {r["g"]: bytes(r["payload"])
                for r in build_grouped_sketches(df, "g", spec).collect()}

    first = build()
    assert first == build()
    assert all(sketches.loads(b).n == 1200 for b in first.values())
