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
from qfilter_spark.dist.sizing import sized_input

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
N = 6000


@contextlib.contextmanager
def _conf(spark, **settings):
    """Session confs set for the block, then restored."""
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
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
    """k = ceil(sizeInBytes / target): minPartitionSize under
    parallelismFirst, advisoryPartitionSizeInBytes without it, and never
    more partitions than the input has."""
    h = df.select("h")
    size = h._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size == 8 * N
    pre = "spark.sql.adaptive."
    with _conf(spark, **{pre + "coalescePartitions.minPartitionSize":
                         str(size // 4)}):
        assert _n_parts(sized_input(h)) == 4
    with _conf(spark, **{pre + "coalescePartitions.minPartitionSize": "1b"}):
        assert _n_parts(sized_input(h)) == 8
    with _conf(spark, **{pre + "coalescePartitions.parallelismFirst": "false",
                         pre + "advisoryPartitionSizeInBytes": str(size // 2)}):
        assert _n_parts(sized_input(h)) == 2


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
    """A tiny 4-partition input: build_sketch is one job of one one-task
    stage, and build_sharded_filter's chunk emitter runs one task."""
    from pyspark.sql import functions as F

    few = spark.range(0, 5000, numPartitions=4).select(F.xxhash64("id").alias("h"))
    cms = SketchSpec("cms", dict(eps=0.01, delta=0.01), "hash_col", "h")
    assert _stage_tasks(spark, lambda: build_sketch(few, cms)) == [[1]]
    with _unsized(spark):
        assert _stage_tasks(spark, lambda: build_sketch(few, cms)) == [[4]]

    rsqf = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01), "hash_col", "h")
    jobs = _stage_tasks(spark, lambda: build_sharded_filter(few, rsqf, 4).collect())
    assert jobs[0] == [1]          # the emit stage: AQE runs it as its own job
    with _unsized(spark):
        jobs = _stage_tasks(spark, lambda: build_sharded_filter(few, rsqf, 4).collect())
    assert jobs[0] == [4]


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
