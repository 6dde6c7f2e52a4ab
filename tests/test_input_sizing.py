"""Input-side Python stages sized by AQE's coalesce target: the task count
of one call, and the same answers as with input sizing off
(``spark.sql.adaptive.coalescePartitions.enabled=false``)."""

import contextlib
import uuid

import numpy as np
import pytest

from qfilter_spark import sketches
from qfilter_spark.dist import (
    SketchSpec,
    build_sketch,
    partial_sketches,
    probe_hashes,
)
from qfilter_spark.dist.sharded import (
    build_sharded_filter,
    build_sharded_filter_split,
    insert_sharded,
    probe_sharded_chunks,
    remove_sharded,
    shrink_sharded,
)
from qfilter_spark.dist.sizing import sized_input, sized_tasks

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
N = 6000


@contextlib.contextmanager
def _conf(spark, **settings):
    """Session confs set for the block, then restored (unset when they
    had no value)."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _unsized(spark):
    return _conf(spark, **{COALESCE: "false"})


def _sized_and_unsized(spark, call):
    """``call()`` with input sizing on (the default), then off."""
    sized = call()
    with _unsized(spark):
        return sized, call()


@pytest.fixture(scope="module")
def df(spark):
    from pyspark.sql import functions as F
    return spark.range(0, N, numPartitions=8).select(
        F.xxhash64("id").alias("h"),
        (F.sin(F.col("id")) * 1000).alias("v"),
        F.array(*[(F.col("id") * k % 97).cast("int")
                  for k in (1, 3, 7, 11)]).alias("tokens"))


def _n_parts(frame):
    return frame.rdd.getNumPartitions()


def _plan(frame):
    return frame._jdf.queryExecution().executedPlan().toString()


def _stage_tasks(spark, call):
    """Tasks of each stage ``call`` ran, per Spark job in job order."""
    sc = spark.sparkContext
    group = f"sizing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "input sizing")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = (tracker.getStageInfo(s)
                  for s in sorted(tracker.getJobInfo(job).stageIds))
        out.append([s.numTasks for s in stages
                    if s is not None and s.numCompletedTasks])
    return out


# -- the helper ---------------------------------------------------------


def test_tiny_input_coalesces_without_exchange(df):
    sized = sized_input(df.select("h"))
    assert _n_parts(df) == 8 and _n_parts(sized) == 1
    plan = _plan(sized)
    assert "Coalesce" in plan and "Exchange" not in plan


def test_target_follows_aqe_confs(spark, df):
    """k = ceil(sizeInBytes / target), with CoalesceShufflePartitions'
    target: max(minPartitionSize, min(advisoryPartitionSizeInBytes,
    ceil(sizeInBytes / n))), n the default parallelism (or minPartitionNum)
    under parallelismFirst and 1 without it; never more partitions than
    the input has."""
    h = df.select("h")
    size = h._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size == 8 * N
    pre = "spark.sql.adaptive."
    floor = pre + "coalescePartitions.minPartitionSize"
    num = pre + "coalescePartitions.minPartitionNum"
    # the default parallelism (local[2]) sets the target above the floor
    assert spark.sparkContext.defaultParallelism == 2
    with _conf(spark, **{floor: str(size // 4)}):
        assert sized_tasks(h)[1] == _n_parts(sized_input(h)) == 2
    with _conf(spark, **{floor: "1b"}):
        assert sized_tasks(h)[1] == _n_parts(sized_input(h)) == 2
    with _conf(spark, **{floor: "1b", num: "4"}):
        assert _n_parts(sized_input(h)) == 4
    with _conf(spark, **{floor: str(size // 4), num: "8"}):  # the floor
        assert sized_tasks(h)[1] == _n_parts(sized_input(h)) == 4
    without = {pre + "coalescePartitions.parallelismFirst": "false",
               pre + "advisoryPartitionSizeInBytes": str(size // 2)}
    with _conf(spark, **without, **{floor: "1b"}):
        assert _n_parts(sized_input(h)) == 2
    with _conf(spark, **without):  # the 1 MB floor is above the advisory
        assert sized_tasks(h)[1] == _n_parts(sized_input(h)) == 1


def test_many_partitions_size_to_the_parallelism(spark):
    """A 200-partition input at a 1-byte floor runs as many tasks as AQE
    would coalesce a shuffle of it to: the default parallelism, not one
    task per 1-byte target (which a split never goes below)."""
    from pyspark.sql import functions as F

    wide = spark.range(0, 20_000, numPartitions=200).select(
        F.xxhash64("id").alias("h"))
    with _conf(spark, **{"spark.sql.adaptive.coalescePartitions."
                         "minPartitionSize": "1b"}):
        frame, tasks = sized_tasks(wide)
        assert tasks == _n_parts(frame) == spark.sparkContext.defaultParallelism


def test_unknown_stats_and_disabled_confs_keep_partitions(spark, df):
    """An input without statistics, and a session with AQE or its
    partition coalescing off, keep the input's partitions."""
    spec = SketchSpec("hll", dict(p=10), "hash_col", "h")
    local = spark.createDataFrame([(i, -i) for i in range(100)], "h long, g long")
    assert sized_input(local) is local
    # the partial build sizes a projection: an estimate scaled down from
    # Long.MaxValue, still unknown
    assert _n_parts(partial_sketches(local, spec)) == _n_parts(local) > 1
    for conf in ("spark.sql.adaptive.enabled", COALESCE):
        with _conf(spark, **{conf: "false"}):
            assert sized_input(df) is df
            assert _n_parts(partial_sketches(df, spec)) == 8


# -- task counts of one call ----------------------------------------------


def test_tiny_input_builds_in_one_python_task(spark):
    """A tiny 4-partition input: build_sketch and build_sharded_filter are
    each one job of one one-task stage, and the sharded build merges its
    rows in that task (no Sort, no FlatMapGroupsInArrow); unsized, the
    sharded build's four emit tasks feed the grouped merge."""
    from pyspark.sql import functions as F

    few = spark.range(0, 5000, numPartitions=4).select(F.xxhash64("id").alias("h"))
    cms = SketchSpec("cms", dict(eps=0.01, delta=0.01), "hash_col", "h")
    assert _stage_tasks(spark, lambda: build_sketch(few, cms)) == [[1]]
    with _unsized(spark):
        assert _stage_tasks(spark, lambda: build_sketch(few, cms)) == [[4]]

    rsqf = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01), "hash_col", "h")
    table = build_sharded_filter(few, rsqf, 4)
    assert _stage_tasks(spark, table.collect) == [[1]]
    plan = _plan(table)
    assert "FlatMapGroupsInArrow" not in plan and "Sort" not in plan
    assert "Coalesce 1" in plan and "Exchange" not in plan
    with _unsized(spark):
        table = build_sharded_filter(few, rsqf, 4)
        jobs = _stage_tasks(spark, table.collect)
    assert jobs[0] == [4]          # the emit stage: AQE runs it as its own job
    assert "FlatMapGroupsInArrow" in _plan(table)


def test_partial_count_is_the_sized_count(spark, tmp_path):
    """build_sketch plans its merge from the sized partials: a tiny
    16-partition input at fan_in=4 is one job, and no merge round runs
    over rows that are not there (a checkpoint holds round 0 only); the
    blob equals the unsized reduction's."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist.checkpoint import MergeLineage

    many = spark.range(0, 5000, numPartitions=16).select(F.xxhash64("id").alias("h"))
    spec = SketchSpec("hll", dict(p=10), "hash_col", "h")
    blobs = []
    assert _stage_tasks(spark, lambda: blobs.append(build_sketch(many, spec, fan_in=4))) == [[1]]
    lineage = MergeLineage(spark, str(tmp_path / "lineage"))
    assert build_sketch(many, spec, fan_in=4, lineage=lineage) == blobs[0]
    assert lineage.complete_rounds() == [0]
    with _unsized(spark):
        assert build_sketch(many, spec, fan_in=4) == blobs[0]


# -- same answers, sized or not ------------------------------------------


@pytest.mark.parametrize("spec", [
    SketchSpec("hll", dict(p=10), "hash_col", "h"),
    SketchSpec("cms", dict(eps=0.01, delta=0.01), "tokens_ngram", "tokens"),
    SketchSpec("rsqf", dict(capacity=1 << 14, fp_rate=0.01), "hash_col", "h"),
    SketchSpec("bloom", dict(capacity=1 << 14, fp_rate=0.01), "hash_col", "h"),
], ids=lambda s: s.kind)
def test_hash_sketch_blobs_equal(spark, df, spec):
    sized, unsized = _sized_and_unsized(spark, lambda: build_sketch(df, spec))
    assert sized == unsized


@pytest.mark.parametrize("kind,tol", [("kll", 0.025), ("tdigest", 0.005)])
def test_quantile_sketches_count_everything_within_tolerance(spark, df, kind, tol):
    spec = SketchSpec(kind, {}, "values", "v")
    truth = np.sort(np.array([r[0] for r in df.select("v").collect()]))
    for blob in _sized_and_unsized(spark, lambda: build_sketch(df, spec)):
        sk = sketches.loads(blob)
        assert sk.n == N
        for q in (0.05, 0.25, 0.5, 0.75, 0.95):
            v = float(sk.quantile(q))
            lo = np.searchsorted(truth, v, side="left") / N
            hi = np.searchsorted(truth, v, side="right") / N
            assert max(lo - q, q - hi) <= tol, (kind, q, lo, hi)


def test_probe_hashes_equal(spark, df):
    from pyspark.sql import functions as F

    blob = build_sketch(df, SketchSpec("cms", dict(eps=0.01, delta=0.01), "hash_col", "h"))
    probes = df.select("h").union(
        df.select(F.xxhash64(F.col("h") + 1).alias("h")))
    sized, unsized = _sized_and_unsized(spark, lambda: sorted(
        probe_hashes(probes, blob, "h").collect()))
    assert sized == unsized and len(sized) == 2 * N


def test_probe_plans_without_exchange(spark, df):
    """The probe adds no Exchange: a sized input (spark.range) keeps the
    narrow coalesce, while local rows (no statistics), a session with AQE
    off and a streaming input keep their own partitions."""
    from pyspark.sql import functions as F

    blob = sketches.create("cms", eps=0.01, delta=0.01).to_bytes()
    local = spark.createDataFrame([(i,) for i in range(100)], "h long")
    plan = _plan(probe_hashes(df, blob, "h"))
    assert "Coalesce 1" in plan and "Exchange" not in plan
    probed = probe_hashes(local, blob, "h")
    assert "Exchange" not in _plan(probed)
    assert _n_parts(probed) == _n_parts(local)
    with _conf(spark, **{"spark.sql.adaptive.enabled": "false"}):
        assert "Exchange" not in _plan(probe_hashes(df, blob, "h"))
    stream = spark.readStream.format("rate").load().select(
        F.col("value").alias("h"))
    frame, tasks = sized_tasks(stream)
    assert frame is stream and tasks is None
    assert probe_hashes(stream, blob, "h").isStreaming


def _table(frame, key="shard"):
    return sorted((r[key], r["n_fps"], bytes(r["payload"]))
                  for r in frame.collect())


def test_sharded_tables_equal(spark, df):
    """Build, insert, remove, shrink and the chunk probe give the same
    rows with sizing on and off."""
    from pyspark.sql import functions as F

    spec = SketchSpec("rsqf", dict(capacity=1 << 14, fp_rate=0.01), "hash_col", "h")
    more = df.select(F.xxhash64(F.col("h") + 1).alias("h"))

    def run():
        built = build_sharded_filter(df, spec, 8)
        built.cache()
        grown = insert_sharded(built, more, spec, 8, spec)
        grown.cache()
        out = dict(
            built=_table(built), grown=_table(grown),
            removed=_table(remove_sharded(grown, more, "h", 8, spec)),
            shrunk=_table(shrink_sharded(grown)),
            probed=sorted(probe_sharded_chunks(df, spec, grown, 8, spec).collect()))
        built.unpersist()
        grown.unpersist()
        return out

    sized, unsized = _sized_and_unsized(spark, run)
    assert sized["built"] == sized["removed"]
    assert sum(r[2] for r in sized["probed"]) == N
    assert sized == unsized


@pytest.mark.parametrize("layout", ["uniform", "split"])
def test_one_task_plans_equal_multi_task(spark, df, tmp_path, monkeypatch,
                                         layout):
    """The one-task build and broadcast probe (sized: one emit task, no
    grouped merge, no per-key sum) give what the multi-task plans
    (unsized) give: byte-identical table rows and identical probe rows,
    also when the one task sees several waves; an empty input gives no
    rows on either plan."""
    from pyspark.sql import functions as F

    from qfilter_spark import sources
    from qfilter_spark.dist import agg

    spec = SketchSpec("rsqf", dict(capacity=1 << 14, fp_rate=0.01),
                      "hash_col", "h")
    route, key = 8, "shard"
    if layout == "split":
        route, key = build_sharded_filter_split(df, spec, 8, 400)[1], "key"
        assert route.split
    probes = df.select("h").union(
        df.select(F.xxhash64(F.col("h") + 1).alias("h")))
    empty = df.select("h").limit(0)
    assert sized_tasks(df.select("h"))[1] == sized_tasks(probes)[1] == 1
    path = str(tmp_path / "table")

    def run():
        sources.write_filter_table(build_sharded_filter(df, spec, route), path)
        table = sources.read_filter_table(spark, path)
        probed = probe_sharded_chunks(probes, spec, table, route, spec)
        return dict(
            stored=_table(table, key), probed=sorted(probed.collect()),
            plan=_plan(probed),
            empty_built=build_sharded_filter(empty, spec, route).collect(),
            empty_probed=probe_sharded_chunks(empty, spec, table, route,
                                              spec).collect())

    sized, unsized = _sized_and_unsized(spark, run)
    assert "HashAggregate" not in sized.pop("plan")
    assert "HashAggregate" in unsized.pop("plan")
    assert sized == unsized
    assert sum(r["n_probed"] for r in sized["probed"]) == 2 * N
    assert sized["empty_built"] == sized["empty_probed"] == []
    # 1000-row Arrow batches and 1000-value waves: several waves per task
    monkeypatch.setattr(agg, "_MAX_BUFFER", 1000)
    with _conf(spark, **{"spark.sql.execution.arrow.maxRecordsPerBatch":
                         "1000"}):
        waves = run()
    waves.pop("plan")
    assert waves == unsized


def test_split_build_equal(spark):
    """Split build over a few keys per shard: every chunk ships all its
    fingerprints as samples, so the planned directory, and with it every
    row, is the same however the input is split."""
    from pyspark.sql import functions as F

    keys = spark.range(0, 400, numPartitions=8).select(F.xxhash64("id").alias("h"))
    spec = SketchSpec("rsqf", dict(capacity=1024, fp_rate=0.01), "hash_col", "h")

    def run():
        filt, directory = build_sharded_filter_split(
            keys, spec, n_shards=8, max_fps_per_row=20)
        return directory.starts.tolist(), _table(filt, "key")

    sized, unsized = _sized_and_unsized(spark, run)
    assert len(sized[0]) > 8          # rows were split
    assert sized == unsized


def test_null_hash_still_refused(spark):
    from pyspark.sql import functions as F

    bad = spark.range(0, 100, numPartitions=4).select(
        F.when(F.col("id") == 50, None).otherwise(F.xxhash64("id")).alias("h"))
    assert _n_parts(sized_input(bad)) == 1
    spec = SketchSpec("rsqf", dict(capacity=256, fp_rate=0.01), "hash_col", "h")
    blob = sketches.create("rsqf", capacity=64, fp_rate=0.01).to_bytes()
    for call in (lambda: build_sketch(bad, spec),
                 lambda: build_sharded_filter(bad, spec, 4).collect(),
                 lambda: probe_hashes(bad, blob, "h").collect()):
        with pytest.raises(Exception, match="NULL values"):
            call()
