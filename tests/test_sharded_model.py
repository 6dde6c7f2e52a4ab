"""Model-based differential test of the sharded filter table.

Every operation on a sharded table is replayed on two models: an exact
fingerprint multiset (``collections.Counter``) and one single-blob
``Filter``. After each step the table's collapse must equal both models;
at the end the chunk probe, the hash-column probe, ``count_sharded`` and
a Parquet round trip must agree with the multiset; the probes and counts
run on both plans, the broadcast one (the default threshold) and the
co-partitioned one (``spark.sql.autoBroadcastJoinThreshold=-1``). The
table's shape is a parameter: the uniform one-row-per-shard table, and a
split table whose hot shard is cut into several rows by a small
``max_fps_per_row``.
"""

import contextlib
from collections import Counter

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from qfilter_spark import sketches, sources
from qfilter_spark.dist import SketchSpec
from qfilter_spark.dist import sharded as S

N_SHARDS = 8
HOT_SHARD = 5
SPEC = SketchSpec("rsqf", dict(capacity=512, fp_rate=0.01), "hash_col", "h")
QBITS, RBITS, FS = S._fp_meta(SPEC)
FP_MASK = (1 << FS) - 1
SHIFT = FS - (N_SHARDS.bit_length() - 1)


def _universe() -> np.ndarray:
    """48 hashes: 24 spread over every shard, 24 piled onto HOT_SHARD.

    Bits above the fingerprint width are random too, so every path must
    mask them off the same way."""
    rng = np.random.default_rng(20261016)
    spread = rng.integers(0, 2**64, size=24, dtype=np.uint64)
    hot = ((rng.integers(0, 2**40, size=24, dtype=np.uint64)
            << np.uint64(FS))
           | (np.uint64(HOT_SHARD) << np.uint64(SHIFT))
           | rng.integers(0, 1 << SHIFT, size=24, dtype=np.uint64))
    u = np.concatenate([spread, hot])
    assert np.unique(u & np.uint64(FP_MASK)).size == u.size
    return u


UNIVERSE = _universe()
HOT_BASE = list(range(24, 48))  # every hot key once: the split shape splits
ABSENT = np.random.default_rng(7).integers(0, 2**63, size=24, dtype=np.uint64)

keys = st.lists(st.integers(0, UNIVERSE.size - 1), max_size=30)
step = st.one_of(st.tuples(st.just("insert"), keys),
                 st.tuples(st.just("remove"), keys),
                 st.tuples(st.just("shrink"), st.just([])))
program = st.lists(step, min_size=1, max_size=3)

SHAPES = ["uniform", "split"]


@pytest.fixture(scope="module", autouse=True)
def few_shuffle_partitions(spark):
    """Tables here have at most a few dozen rows: two shuffle partitions
    still put several row keys in each task and keep the file fast."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _fps(hashes: np.ndarray) -> list:
    return [int(h) & FP_MASK for h in hashes]


def _hash_df(spark, hashes: np.ndarray):
    signed = np.asarray(hashes, dtype=np.uint64).view(np.int64)
    return spark.createDataFrame([(int(h),) for h in signed],
                                 "h long").repartition(2)


def _pin(spark, table):
    """Collect a tiny table and re-create it without its lineage, so a
    chain of updates does not recompute every earlier step. Every row's
    ``n_fps`` must match its payload. The copy is a local relation, so
    Spark knows its size and the probes may broadcast it."""
    rows = table.toArrow()
    for r in rows.to_pylist():
        assert len(sketches.loads(bytes(r["payload"])).filter) == r["n_fps"]
    return spark.createDataFrame(rows)


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    """``spark.sql.autoBroadcastJoinThreshold`` set for the block (None
    keeps the session's), then restored."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _build(spark, shape, hashes):
    df = _hash_df(spark, hashes)
    if shape == "uniform":
        table = S.build_sharded_filter(df, SPEC, n_shards=N_SHARDS)
        return _pin(spark, table), N_SHARDS
    table, directory = S.build_sharded_filter_split(
        df, SPEC, n_shards=N_SHARDS, max_fps_per_row=4)
    assert directory.starts.size > N_SHARDS  # the hot shard really split
    return _pin(spark, table), directory


def _check_collapse(table, route, model: Counter, single):
    want = np.array(sorted(model.elements()), dtype=np.uint64)
    got = sketches.loads(S.sharded_to_single(table, SPEC, route)).filter
    assert np.array_equal(got.fingerprints(), want)
    assert np.array_equal(single.filter.fingerprints(), want)


def _check_probes(spark, table, route, model: Counter):
    probes = np.concatenate([UNIVERSE, ABSENT])
    df = _hash_df(spark, probes)
    want_hits = sum(model[fp] > 0 for fp in _fps(probes))
    want_est = {int(h): model[fp]
                for h, fp in zip(probes.view(np.int64), _fps(probes))}
    for threshold, cogroup in ((None, False), ("-1", True)):
        with _broadcast_threshold(spark, threshold):
            for stats in (S.probe_sharded_chunks(df, SPEC, table, route, SPEC),
                          S.probe_sharded(df, "h", table, route, SPEC)):
                assert ("CoGroup" in _plan(stats)) == cogroup
                n, hit = stats.groupBy().sum("n_probed",
                                             "n_contained").collect()[0]
                assert (int(n), int(hit or 0)) == (probes.size, want_hits)
            est = {r["h"]: r["est"] for r in
                   S.count_sharded(df, "h", table, route, SPEC).collect()}
        assert est == want_est


def _plan(frame):
    return frame._jdf.queryExecution().optimizedPlan().toString()


def _run(spark, path, shape, initial, steps):
    base = UNIVERSE[HOT_BASE + initial]
    model = Counter(_fps(base))
    single = SPEC.make()
    single.update_hashes(base)
    table, route = _build(spark, shape, base)
    _check_collapse(table, route, model, single)
    for op, idx in steps:
        hashes = UNIVERSE[idx]
        if op == "insert":
            table = S.insert_sharded(table, _hash_df(spark, hashes), SPEC,
                                     route, SPEC)
            model += Counter(_fps(hashes))
            single.update_hashes(hashes)
        elif op == "remove":
            table = S.remove_sharded(table, _hash_df(spark, hashes), "h",
                                     route, SPEC)
            model -= Counter(_fps(hashes))  # clamps at 0, like the filter
            single.filter.remove_hashes(hashes)
        else:
            before = sum(len(r["payload"]) for r in table.collect())
            table = S.shrink_sharded(table)
            assert sum(len(r["payload"]) for r in table.collect()) <= before
        table = _pin(spark, table)
        _check_collapse(table, route, model, single)
    _check_probes(spark, table, route, model)

    # Parquet round trip: the same rows come back and still collapse to
    # the model
    sources.write_filter_table(table, path)
    back = sources.read_filter_table(spark, path)
    assert back.columns == (["shard", "n_fps", "payload"] if shape == "uniform"
                            else ["key", "shard", "n_fps", "payload"])
    assert (sorted(tuple(r) for r in back.collect())
            == sorted(tuple(r) for r in table.collect()))
    _check_collapse(back, route, model, single)


@pytest.mark.parametrize("shape", SHAPES)
@settings(max_examples=2, deadline=None)
@given(initial=keys, steps=program)
# a remove beyond the multiplicity, then draining the hot shard to
# n_fps = 0 rows, then inserting into the drained rows again
@example(initial=[0, 0, 25], steps=[("remove", [0, 0, 0, 25, 25]),
                                    ("remove", HOT_BASE),
                                    ("insert", [26, 26, 1])])
def test_sharded_table_matches_models(spark, tmp_path_factory, shape,
                                      initial, steps):
    _run(spark, str(tmp_path_factory.mktemp("table")), shape, initial, steps)


@pytest.mark.parametrize("shape", SHAPES)
def test_drained_rows_stay_and_probe_empty(spark, shape):
    table, route = _build(spark, shape, UNIVERSE)
    drained = _pin(spark, S.remove_sharded(
        table, _hash_df(spark, UNIVERSE), "h", route, SPEC))
    rows = drained.collect()
    assert len(rows) == len(table.collect())
    assert all(r["n_fps"] == 0 for r in rows)
    _check_probes(spark, drained, route, Counter())


@pytest.mark.parametrize("shape", SHAPES)
def test_null_hashes_refused(spark, shape):
    table, route = _build(spark, shape, UNIVERSE)
    bad = spark.createDataFrame([(1,), (None,), (int(UNIVERSE[30]) >> 1,)],
                                "h long")
    calls = [
        lambda: S.probe_sharded(bad, "h", table, route, SPEC),
        lambda: S.probe_sharded_chunks(bad, SPEC, table, route, SPEC),
        lambda: S.count_sharded(bad, "h", table, route, SPEC),
        lambda: S.remove_sharded(table, bad, "h", route, SPEC),
        lambda: S.insert_sharded(table, bad, SPEC, route, SPEC),
    ]
    for call in calls:
        with pytest.raises(Exception) as ei:
            call().collect()
        assert "NULL values" in str(ei.value)
