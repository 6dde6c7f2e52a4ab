"""Tree merge with a driver-merged root: same bytes as an all-Spark
reduction for every sketch kind, the root commit and its crash recovery,
resume of checkpoints whose root a Spark round wrote, the Spark plan one
call runs, and the merge shapes rejected before any job starts.
"""

import os
import shutil
import uuid

import pytest

from qfilter_spark.dist import (
    SketchSpec,
    build_sketch,
    partial_sketches,
    tree_merge,
)
from qfilter_spark.dist.agg import PARTIAL_SCHEMA, _merge_round
from qfilter_spark.dist.checkpoint import MergeLineage, resume_tree_merge

SPECS = {
    "hll": SketchSpec("hll", dict(p=10), "hash_col", "h"),
    "cms": SketchSpec("cms", dict(eps=0.01, delta=0.01), "tokens_ngram", "tokens"),
    "rsqf": SketchSpec("rsqf", dict(capacity=1 << 13, fp_rate=0.01), "hash_col", "h"),
    "kll": SketchSpec("kll", dict(k=50), "values", "v"),
    "tdigest": SketchSpec("tdigest", dict(), "values", "v"),
}


@pytest.fixture(scope="module")
def df(spark):
    from pyspark.sql import functions as F
    return spark.range(0, 4000, numPartitions=8).select(
        F.xxhash64("id").alias("h"),
        (F.sin(F.col("id")) * 1000).alias("v"),
        F.array(*[(F.col("id") * k % 97).cast("int")
                  for k in (1, 3, 7, 11)]).alias("tokens"))


def _spark_root_reduce(partials, fan_in, lineage=None):
    """The reduction with a Spark round down to the root (the layout of
    checkpoints written before the driver merged the root): every round,
    the root included, is an applyInPandas round written by write_round."""
    n = partials.count()
    if lineage is not None:
        lineage.record_fan_in(fan_in)
        partials = lineage.write_round(partials, 0)
    rnd = 0
    while n > 1:
        rnd += 1
        n = -(-n // fan_in)
        partials = _merge_round(partials, n, PARTIAL_SCHEMA)
        if lineage is not None:
            partials = lineage.write_round(partials, rnd)
    (row,) = partials.collect()
    return bytes(row["payload"])


def _cut_after(ckpt, lineage, rnd):
    for r in lineage.complete_rounds():
        if r > rnd:
            shutil.rmtree(os.path.join(ckpt, f"round={r}"))


@pytest.mark.usefixtures("unsized_inputs")
@pytest.mark.parametrize("kind", list(SPECS))
def test_driver_root_equals_spark_root(spark, df, tmp_path, kind):
    """Bytes equal the all-Spark reduction in build_sketch, tree_merge with
    and without a lineage (fan_in=2 over 8 partials: two Spark rounds, then
    the driver root), and resume of a checkpoint whose root Spark wrote,
    whole or cut after round 1."""
    spec = SPECS[kind]
    parts = partial_sketches(df, spec)
    few = partial_sketches(df.coalesce(3), spec)
    assert build_sketch(df.coalesce(3), spec) == _spark_root_reduce(few, 16)

    ckpt = str(tmp_path / "spark_root")
    old = MergeLineage(spark, ckpt)
    want = _spark_root_reduce(parts, 2, old)
    assert old.complete_rounds() == [0, 1, 2, 3]
    assert tree_merge(parts, fan_in=2) == want
    lineage = MergeLineage(spark, str(tmp_path / "driver_root"))
    assert tree_merge(parts, fan_in=2, lineage=lineage, n_partials=8) == want
    assert lineage.complete_rounds() == [0, 1, 2, 3]

    assert resume_tree_merge(spark, ckpt) == want      # Spark-written root
    _cut_after(ckpt, old, 1)
    assert resume_tree_merge(spark, ckpt) == want      # driver root from round 1
    assert old.complete_rounds() == [0, 1, 2, 3]


def _round_rows(lineage, rnd):
    """(shard_id, n_items, payload) of a written round, in shard order."""
    return sorted((r["shard_id"], r["n_items"], bytes(r["payload"]))
                  for r in lineage.read_round(rnd).collect())


@pytest.mark.usefixtures("unsized_inputs")
@pytest.mark.parametrize("kind", list(SPECS))
def test_driver_round0_equals_spark_round0(spark, df, tmp_path, kind):
    """8 partials at fan_in=8: the driver commits round 0 and the root. The
    round reads back as the rows a Spark write of the same partials
    stores (build_secs aside), and resume from round 0, with the root cut
    away, returns the same blob."""
    spec = SPECS[kind]
    parts = partial_sketches(df, spec)
    spark_written = MergeLineage(spark, str(tmp_path / "spark_round0"))
    spark_written.write_round(parts, 0)
    ckpt = str(tmp_path / "driver_round0")
    lineage = MergeLineage(spark, ckpt)
    blob = tree_merge(parts, fan_in=8, lineage=lineage, n_partials=8)
    assert blob == tree_merge(parts, fan_in=8)
    assert lineage.complete_rounds() == [0, 1]
    rows = _round_rows(lineage, 0)
    assert len(rows) == 8 and rows == _round_rows(spark_written, 0)
    _cut_after(ckpt, lineage, 0)
    assert resume_tree_merge(spark, ckpt) == blob
    assert lineage.complete_rounds() == [0, 1]


@pytest.mark.usefixtures("unsized_inputs")
def test_root_without_success_is_ignored(spark, df, tmp_path):
    """A crash mid-commit leaves a root directory without _SUCCESS: resume
    ignores it, merges again from the round below to the same bytes and
    replaces the partial directory with a complete root."""
    spec = SPECS["kll"]
    ckpt = str(tmp_path / "lineage")
    lineage = MergeLineage(spark, ckpt)
    blob = tree_merge(partial_sketches(df, spec), fan_in=2, lineage=lineage)
    root = os.path.join(ckpt, "round=3")
    os.remove(os.path.join(root, "_SUCCESS"))
    part = os.path.join(root, "part-00000.parquet")
    with open(part, "r+b") as f:             # a torn file, too
        f.truncate(os.path.getsize(part) // 2)
    assert lineage.last_complete_round() == 2
    assert resume_tree_merge(spark, ckpt) == blob
    assert lineage.complete_rounds() == [0, 1, 2, 3]
    assert sorted(n for n in os.listdir(root) if not n.startswith(".")) == [
        "_SUCCESS", "part-00000.parquet"]
    assert resume_tree_merge(spark, ckpt) == blob    # the one-row root as is


@pytest.mark.usefixtures("unsized_inputs")
def test_root_metrics_sum_the_round_below(spark, df, tmp_path):
    lineage = MergeLineage(spark, str(tmp_path / "lineage"))
    tree_merge(partial_sketches(df, SPECS["cms"]), fan_in=4, lineage=lineage)
    assert lineage.complete_rounds() == [0, 1, 2]
    (root,) = lineage.metrics(2)
    below = lineage.metrics(1)
    assert len(below) == 2
    assert root["shard_id"] == 0
    assert root["n_items"] == sum(r["n_items"] for r in below) > 0
    assert root["build_secs"] >= sum(r["build_secs"] for r in below)


@pytest.mark.usefixtures("unsized_inputs")
def test_checkpointed_tree_merge_builds_partials_once(spark, df, tmp_path):
    """Without n_partials, a checkpointed run counts the written round 0
    instead of running the partial build a second time to count it."""
    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for batch in batches:
            acc.add(batch.num_rows)
            yield batch

    spec = SPECS["hll"]
    parts = partial_sketches(df, spec).mapInArrow(tap, PARTIAL_SCHEMA)
    lineage = MergeLineage(spark, str(tmp_path / "lineage"))
    blob = tree_merge(parts, fan_in=4, lineage=lineage)
    assert acc.value == 8
    assert blob == tree_merge(partial_sketches(df, spec), fan_in=4)


def _jobs_of(spark, call):
    """The stage count of each Spark job ``call`` runs, in job order."""
    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan shape")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    return [len(tracker.getJobInfo(j).stageIds) for j in jobs]


@pytest.mark.usefixtures("unsized_inputs")
def test_plan_shape_of_one_call(spark, df, tmp_path):
    """<= fan_in partials: build_sketch is one job of one stage (no
    shuffle); a checkpointed tree_merge is one job too: it collects the
    partials, and the driver commits round 0 and the root."""
    spec = SPECS["cms"]
    few = df.coalesce(4)
    assert _jobs_of(spark, lambda: build_sketch(few, spec, fan_in=4)) == [1]
    lineage = MergeLineage(spark, str(tmp_path / "lineage"))
    stages = _jobs_of(spark, lambda: tree_merge(
        partial_sketches(few, spec), fan_in=4, lineage=lineage, n_partials=4))
    assert stages == [1]
    assert lineage.complete_rounds() == [0, 1]


@pytest.mark.parametrize("fan_in", [1, 0, -2])
def test_bad_fan_in_rejected_on_driver(spark, df, tmp_path, fan_in):
    spec = SPECS["hll"]
    ckpt = str(tmp_path / "lineage")
    msg = f"fan_in must be >= 2, got {fan_in}"
    calls = [
        lambda: tree_merge(partial_sketches(df, spec), fan_in=fan_in,
                           lineage=MergeLineage(spark, ckpt)),
        lambda: build_sketch(df, spec, fan_in=fan_in),
        lambda: resume_tree_merge(spark, ckpt, fan_in=fan_in),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=msg):
            call()
    assert not os.path.exists(ckpt)
