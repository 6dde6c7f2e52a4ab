"""The two plans of a sharded probe and count: a small table is collected,
broadcast and probed in the emit stage; a large table, or one whose size
Spark does not know, is co-grouped with the probe chunks. Each test forces
both plans on the same table with ``spark.sql.autoBroadcastJoinThreshold``
(the session's default, then ``-1``) and needs identical answers."""

import contextlib
from collections import Counter
import json
import os
import pickle
import subprocess
import sys

import numpy as np
import pytest

from qfilter_spark import sketches, sources
from qfilter_spark.dist import SketchSpec
from qfilter_spark.dist import probe as probe_mod
from qfilter_spark.dist.probe import probe_hashes
from qfilter_spark.dist import sharded as S
from qfilter_spark.dist.sizing import plan_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
N_SHARDS = 8
SPEC = SketchSpec("rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h")
QBITS, _, FS = S._fp_meta(SPEC)
FP_MASK = (1 << FS) - 1
SHIFT = FS - 3


def _hashes(seed, n, shard=None):
    """``n`` random hashes; all in ``shard`` when it is given."""
    h = np.random.default_rng(seed).integers(0, 2**64, size=n,
                                             dtype=np.uint64)
    if shard is not None:
        low = np.uint64((1 << SHIFT) - 1)
        h = (h & ~np.uint64((1 << FS) - 1)) | (h & low) \
            | (np.uint64(shard) << np.uint64(SHIFT))
    return h


def _shard_of(h):
    return (h & np.uint64((1 << FS) - 1)) >> np.uint64(SHIFT)


PRESENT = np.concatenate([_hashes(1, 1500), _hashes(2, 600, shard=5)])
GROWN = _hashes(6, 400, shard=5)  # overfills shard 5's local quotient
ABSENT = _hashes(3, 400)


def _df(spark, hashes):
    signed = np.asarray(hashes, dtype=np.uint64).view(np.int64)
    return spark.createDataFrame([(int(h),) for h in signed],
                                 "h long").repartition(3)


@contextlib.contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _cogroups(frame) -> bool:
    return "CoGroup" in frame._jdf.queryExecution().optimizedPlan().toString()


def _both(spark, call):
    """Sorted rows of ``call()`` on the broadcast plan (the default
    threshold), then on the co-partitioned plan (``-1``)."""
    small = call()
    assert not _cogroups(small)
    with _threshold(spark, "-1"):
        large = call()
        assert _cogroups(large)
        return sorted(small.collect()), sorted(large.collect())


def _written(spark, table, path):
    """``table`` written to Parquet and read back: a table whose size
    Spark knows, like a stored filter table."""
    sources.write_filter_table(table, path)
    return sources.read_filter_table(spark, path)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """name -> (written table, routing): uniform, split (shard 5 cut into
    several rows), drained (shard 5's rows at n_fps = 0), gap (no row for
    shard 6) and grown (shard 5's row grew its local qbits)."""
    base = tmp_path_factory.mktemp("tables")
    present = _df(spark, PRESENT)
    uniform = _written(spark, S.build_sharded_filter(present, SPEC, N_SHARDS),
                       str(base / "uniform"))
    split, directory = S.build_sharded_filter_split(
        present, SPEC, n_shards=N_SHARDS, max_fps_per_row=200)
    split = _written(spark, split, str(base / "split"))
    assert directory.starts.size > N_SHARDS
    hot = _df(spark, PRESENT[_shard_of(PRESENT) == 5])
    drained = _written(spark, S.remove_sharded(uniform, hot, "h", N_SHARDS,
                                               SPEC), str(base / "drained"))
    drained_split = _written(
        spark, S.remove_sharded(split, hot, "h", directory, SPEC),
        str(base / "drained_split"))
    gap = _written(spark, S.build_sharded_filter(
        _df(spark, PRESENT[_shard_of(PRESENT) != 6]), SPEC, N_SHARDS),
        str(base / "gap"))
    grown = _written(spark, S.build_sharded_filter(
        _df(spark, np.concatenate([PRESENT, GROWN])), SPEC, N_SHARDS),
        str(base / "grown"))
    out = dict(uniform=(uniform, N_SHARDS), split=(split, directory),
               drained=(drained, N_SHARDS),
               drained_split=(drained_split, directory),
               gap=(gap, N_SHARDS), grown=(grown, N_SHARDS))
    assert any(sketches.loads(r["payload"]).filter.qbits > QBITS - 3
               for r in grown.collect())
    assert any(r["n_fps"] == 0 for r in drained.collect())
    assert 6 not in {r["shard"] for r in gap.collect()}
    return out


PROBES = dict(mixed=np.concatenate([PRESENT[::3], ABSENT]), absent=ABSENT,
              empty=ABSENT[:0], hot=_hashes(4, 300, shard=5),
              gap=_hashes(5, 200, shard=6))


@pytest.mark.parametrize("table,probe", [
    ("uniform", "mixed"), ("split", "mixed"),
    ("uniform", "absent"), ("split", "absent"),
    ("uniform", "empty"), ("split", "empty"),
    ("drained", "hot"), ("drained_split", "hot"), ("drained", "mixed"),
    ("gap", "gap"), ("gap", "mixed")])
def test_probe_and_count_paths_agree(spark, tables, table, probe):
    filt, route = tables[table]
    hashes = PROBES[probe]
    df = _df(spark, hashes)
    small, large = _both(spark, lambda: S.probe_sharded_chunks(
        df, SPEC, filt, route, SPEC))
    assert small == large
    # one row per row key that received probes, and every probe counted
    assert len({r[0] for r in small}) == len(small)
    assert sum(r["n_probed"] for r in small) == hashes.size
    small_est, large_est = _both(spark, lambda: S.count_sharded(
        df, "h", filt, route, SPEC))
    assert small_est == large_est
    assert sorted(r["h"] for r in small_est) == sorted(
        hashes.view(np.int64).tolist())
    # no table row for the range, and a drained row, hit nothing
    if (table, probe) in (("gap", "gap"), ("drained", "hot"),
                          ("drained_split", "hot")):
        assert not any(r["n_contained"] for r in small)
        assert not any(r["est"] for r in small_est)


def _model(table):
    """Counter of the fingerprint multiset each fixture table holds."""
    fps = Counter(int(h) & FP_MASK for h in PRESENT)
    if table == "drained":
        fps -= Counter(int(h) & FP_MASK
                       for h in PRESENT[_shard_of(PRESENT) == 5])
    if table == "gap":
        fps = Counter(int(h) & FP_MASK
                      for h in PRESENT[_shard_of(PRESENT) != 6])
    if table == "grown":
        fps += Counter(int(h) & FP_MASK for h in GROWN)
    return fps


@pytest.mark.parametrize("table",
                         ["uniform", "split", "drained", "gap", "grown"])
def test_blob_and_table_probes_answer_the_model(spark, tables, table):
    """One fingerprint multiset, four probes: ``probe_hashes`` over the
    table collapsed to one blob (counts and ``as_bool``), ``count_sharded``
    on both plans and the chunk probe on both plans all answer the Counter
    model of the table."""
    filt, route = tables[table]
    model = _model(table)
    hashes = np.concatenate([PROBES["mixed"], PROBES["hot"], PROBES["gap"],
                             GROWN[::4], PRESENT[:40]])  # some probed twice
    signed = hashes.view(np.int64).tolist()
    want = sorted((h, model[h & FP_MASK]) for h in signed)
    df = _df(spark, hashes)
    blob = S.sharded_to_single(filt, SPEC, route)
    counts = probe_hashes(df, blob, "h").collect()
    members = probe_hashes(df, blob, "h", as_bool=True).collect()
    assert sorted((r["h"], r["est_count"]) for r in counts) == want
    assert sorted((r["h"], r["est_count"]) for r in members) == sorted(
        (h, n > 0) for h, n in want)
    small, large = _both(spark, lambda: S.count_sharded(
        df, "h", filt, route, SPEC))
    assert [tuple(r) for r in small] == [tuple(r) for r in large] == want
    rows = S._directory(route, SPEC).row_of(hashes)
    hit = np.array([model[h & FP_MASK] > 0 for h in signed])
    want_rows = sorted((int(k), int((rows == k).sum()),
                        int(hit[rows == k].sum())) for k in np.unique(rows))
    small, large = _both(spark, lambda: S.probe_sharded_chunks(
        df, SPEC, filt, route, SPEC))
    assert [tuple(r) for r in small] == [tuple(r) for r in large] == want_rows


def test_split_counts_sum_over_the_shard_rows(spark, tables):
    """A present key counts its multiplicity on both plans, in a split
    shard too."""
    filt, route = tables["split"]
    hashes = np.concatenate([PRESENT[-50:], PRESENT[-50:], PRESENT[:20]])
    small, large = _both(spark, lambda: S.count_sharded(
        _df(spark, hashes), "h", filt, route, SPEC))
    assert small == large
    assert all(r["est"] >= 1 for r in small)


def test_null_hashes_refused_on_both_paths(spark, tables):
    filt, route = tables["uniform"]
    bad = spark.createDataFrame([(1,), (None,)], "h long")
    calls = [
        (lambda: S.probe_sharded(bad, "h", filt, route, SPEC), ""),
        (lambda: S.probe_sharded_chunks(bad, SPEC, filt, route, SPEC), ""),
        (lambda: S.count_sharded(bad, "h", filt, route, SPEC),
         "count_sharded: 1 NULL values"),
    ]
    for threshold in (spark.conf.get(THRESHOLD), "-1"):
        with _threshold(spark, threshold):
            for call, name in calls:
                with pytest.raises(Exception) as ei:
                    call().collect()
                assert "NULL values" in str(ei.value)
                assert name in str(ei.value)


def test_no_collect_without_stats(spark, tables, monkeypatch):
    """A table whose size Spark does not know, and a table over a 1-byte
    threshold, take the co-partitioned plan, and building that plan
    collects nothing."""
    filt, _ = tables["uniform"]
    unknown = spark.createDataFrame(filt.collect(), filt.schema)
    assert plan_bytes(unknown) >= (1 << 63) - 1
    df = _df(spark, PROBES["mixed"])

    def calls(table):
        return [S.probe_sharded_chunks(df, SPEC, table, N_SHARDS, SPEC),
                S.count_sharded(df, "h", table, N_SHARDS, SPEC)]

    want = [sorted(c.collect()) for c in calls(filt)]

    def refuse(self, *args, **kwargs):
        raise AssertionError("collected a table the estimate cannot bound")

    with monkeypatch.context() as m:
        m.setattr(type(filt), "collect", refuse)
        # a threshold far above any real table: unknown stats still refuse
        with _threshold(spark, str((1 << 63) - 1)):
            planned = calls(unknown)
        with _threshold(spark, "1b"):
            planned += calls(filt)
    assert all(_cogroups(p) for p in planned)
    assert [sorted(p.collect()) for p in planned] == want + want


def test_decode_once_per_worker(tables, monkeypatch):
    """A broadcast table as a worker unpickles it: each row a probe reaches
    is decoded once over two answers and then handed back as the same
    object, a row that nothing asks for is never decoded, and the pickle
    carries the directory and row payloads only, never a decoded sketch."""
    directory = S._directory(N_SHARDS, SPEC)
    rows = [(int(r["shard"]), bytes(r["payload"]))
            for r in tables["uniform"][0].collect()]
    probed = [2, 5]
    assert len(rows) > len(probed)
    decoded = []
    loads = sketches.loads

    def counting_loads(blob):
        decoded.append(blob)
        return loads(blob)

    monkeypatch.setattr(sketches, "loads", counting_loads)
    table = pickle.loads(pickle.dumps(probe_mod._Table(directory, rows)))
    h = PRESENT[np.isin(_shard_of(PRESENT), probed)]
    for _ in range(2):
        assert table.answer(h, True).all()
    assert decoded == [dict(rows)[k] for k in probed]
    assert table.sketch(5) is table.sketch(5)
    assert table.sketch(N_SHARDS) is None
    assert len(decoded) == len(probed)
    # a decoded table pickles as it was sent: (directory, rows)
    cls, (d, payloads) = table.__reduce__()
    assert cls is probe_mod._Table and d is table.directory
    assert payloads == dict(rows)
    assert pickle.loads(pickle.dumps(table))._sketches == {}


_LIFETIME = """
import gc, json, os
import numpy as np
from pyspark.sql import SparkSession, functions as F
from qfilter_spark import sketches
from qfilter_spark.dist.probe import probe_hashes

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.python.worker.reuse", "true").getOrCreate())


def report(batches):
    import pyarrow as pa
    from qfilter_spark.dist.probe import _Table
    for _ in batches:
        pass
    gc.collect()
    live = sum(isinstance(o, _Table) for o in gc.get_objects())
    yield pa.record_batch(
        [pa.array([os.getpid()]), pa.array([live])], names=["pid", "tables"])


def report_after(batches):
    import pyarrow as pa
    for batch in batches:
        yield pa.record_batch(batch.columns + [pa.array([os.getpid()])],
                              names=batch.schema.names + ["next_pid"])


def blob(h):
    sk = sketches.create("rsqf", capacity=4096, fp_rate=0.01)
    sk.update_hashes(h)
    return sk.to_bytes()


one = spark.range(1, numPartitions=1)
df = spark.range(0, 2000, numPartitions=1).select(F.xxhash64("id").alias("h"))
h = np.array([r.h for r in df.collect()], dtype=np.int64).view(np.uint64)
before = one.mapInArrow(report, "pid long, tables long").collect()[0]
a, b = blob(h[:1000]), blob(h[1000:])
hits = [probe_hashes(df, x, "h", as_bool=True).where("est_count").count()
        for x in (a, a, b)]
after = one.mapInArrow(report, "pid long, tables long").collect()[0]
piped = (one.mapInArrow(report, "pid long, tables long")
         .mapInArrow(report_after, "pid long, tables long, next_pid long")
         .collect()[0])
spark.stop()
print(json.dumps(dict(before=before.asDict(), after=after.asDict(),
                      piped=piped.asDict(), hits=hits)))
"""


def test_reused_worker_drops_probe_tables():
    """Three ``probe_hashes`` calls over two blobs leave no decoded table in
    the reused Python worker: a later task that uses none of the
    broadcasts counts 0 live ``_Table`` objects. Premises: one worker
    (same pid before and after the probes, ``local[1]``) ran everything,
    and a map pipelined after another runs in a worker of its own, so the
    count has to come from a job of its own."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", _LIFETIME], env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["before"]["pid"] == got["after"]["pid"]
    assert got["piped"]["pid"] != got["piped"]["next_pid"]
    assert got["hits"][0] == got["hits"][1] >= 1000
    assert got["after"]["tables"] == 0


_SHAPE = """
import json, sys, tempfile
sys.path.insert(0, sys.argv[1] + "/scripts")
from explain_audit import audit_session, sharded_probe_shapes
logs = tempfile.mkdtemp()
spark = audit_session(logs)
shapes = sharded_probe_shapes(spark, logs, tempfile.mkdtemp())
spark.stop()
print(json.dumps(shapes))
"""


def test_probe_plan_shape():
    """One probe of a written 8-shard table: under the default threshold
    one Python stage (the emit stage) and no FlatMapCoGroupsInArrow; under
    ``-1`` the emit stage and the cogroup stage. Counted from the event
    log per job group, in a session of its own (event logging is fixed at
    start-up)."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", _SHAPE, REPO], env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    shapes = json.loads(out.stdout.strip().splitlines()[-1])
    small, large = shapes["default"], shapes["-1"]
    assert not small["cogroup"] and large["cogroup"]
    assert (small["python_stages"], small["python_tasks"]) == (1, 1)
    assert large["python_stages"] == 2
    assert small["stages"] < large["stages"]
