"""Regression tests for the round-1 ADVICE findings."""

import os

import numpy as np
import pytest

from qfilter_spark import params, sketches
from qfilter_spark.dist.agg import SketchSpec


def test_probe_sharded_chunks_empty_shard(spark):
    """ADVICE #1: probing a shard drained to n_fps=0 must not IndexError."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist.sharded import (build_sharded_filter,
                                            probe_sharded_chunks,
                                            remove_sharded)

    df = (spark.range(0, 2000)
          .select(F.xxhash64(F.col("id").cast("long")).alias("h")))
    spec = SketchSpec("rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h")
    filt = build_sharded_filter(df, spec, n_shards=4).cache()
    # remove EVERYTHING: some (likely all) shards drain to n_fps=0 but keep rows
    drained = remove_sharded(filt, df, "h", 4, spec).cache()
    assert drained.where("n_fps = 0").count() > 0
    stats = (probe_sharded_chunks(df.withColumnRenamed("h", "h2"),
                                  SketchSpec("rsqf", spec.params, "hash_col", "h2"),
                                  drained, 4, spec)
             .groupBy().sum("n_probed", "n_contained").collect()[0])
    assert int(stats[0]) == 2000
    assert int(stats[1]) == 0
    filt.unpersist(); drained.unpersist()


def test_streaming_gens_tolerates_stray_tmp(tmp_path):
    """ADVICE #2: a leftover temp dir must not break generation listing."""
    from qfilter_spark.streaming import StreamingSketch

    spec = SketchSpec("rsqf", dict(capacity=1024, fp_rate=0.01), "hash_col", "h")
    ss = StreamingSketch(spec, str(tmp_path))
    sk = spec.make()
    sk.update_hashes(np.arange(10, dtype=np.uint64))
    ss._write_gen(0, sk, {"batch_id": 0, "n_items": 10, "ts": 0.0})
    # simulate a crash mid-write of gen=1 with BOTH naming schemes
    os.makedirs(tmp_path / ".tmp-gen=1")
    os.makedirs(tmp_path / "gen=1.tmp")
    (tmp_path / "gen=1.tmp" / "meta.json").write_text("{}")
    assert ss._gens() == [0]
    cur, meta, gen = ss.current()
    assert gen == 0 and meta["n_items"] == 10


def test_tree_merge_deterministic_order(spark):
    """ADVICE #3: tree_merge must sort by the ORIGINAL shard_id per group.

    With a t-digest (weakly order-dependent merge) the reduced blob must be
    byte-identical across repeated runs over shuffled partials.
    """
    import pandas as pd

    from qfilter_spark.dist.agg import PARTIAL_SCHEMA, tree_merge

    rng = np.random.default_rng(7)
    rows = []
    for sid in range(12):
        td = sketches.create("tdigest", compression=100)
        td.update_values(rng.normal(sid, 1.0, 2000))
        rows.append((sid, 2000, 0.0, td.to_bytes()))
    blobs = set()
    for _ in range(3):
        pdf = pd.DataFrame(rows, columns=["shard_id", "n_items",
                                          "build_secs", "payload"])
        partials = spark.createDataFrame(pdf, PARTIAL_SCHEMA).repartition(6)
        blobs.add(tree_merge(partials, fan_in=4, n_partials=12))
    assert len(blobs) == 1


def test_rbits_half_away_from_zero():
    """ADVICE #4: fp = 2^-x.5 must round rbits UP like Rust f64::round."""
    fp = 2.0 ** -2.5
    assert params.rbits_for(fp, 10, 10) == 3  # banker's round() would give 2
    assert params.rbits_for(2.0 ** -4.5, 10, 10) == 5
    # unchanged for non-ties
    assert params.rbits_for(0.01, 10, 10) == 7


def test_rsqf_merge_no_spurious_grow():
    """ADVICE #5: set-semantics merge must not grow when the union fits."""
    sk_a = sketches.create("rsqf", capacity=1000, fp_rate=0.01,
                           keep_duplicates=False, resizeable_from=1000)
    sk_b = sketches.create("rsqf", capacity=1000, fp_rate=0.01,
                           keep_duplicates=False, resizeable_from=1000)
    # 600 shared hashes each: union=600 fits in capacity, len-sum 1200 doesn't
    hs = np.arange(1, 601, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    sk_a.update_hashes(hs)
    sk_b.update_hashes(hs)
    q_before = sk_a.filter.qbits
    sk_a.merge(sk_b)
    assert sk_a.filter.qbits == q_before, "grew despite union fitting"
    assert len(sk_a.filter) == 600
    # and it still grows when the union genuinely does not fit
    sk_c = sketches.create("rsqf", capacity=10**6, fp_rate=0.01,
                           keep_duplicates=False, resizeable_from=64)
    sk_d = sketches.create("rsqf", capacity=10**6, fp_rate=0.01,
                           keep_duplicates=False, resizeable_from=64)
    sk_c.update_hashes(hs[:30])
    sk_d.update_hashes(hs[30:])
    sk_c.merge(sk_d)
    assert len(sk_c.filter) == 600


# ---------------------------------------------------------------------------
# round-4 ADVICE findings
# ---------------------------------------------------------------------------

def test_ngram_sweep_hadoop_fs(spark, tmp_path):
    """ADVICE r3/r4: the dead-session sweep runs through the session's
    Hadoop FileSystem (so a remote intermediateDir is really swept);
    stale dirs of DEAD apps go, fresh dirs and own-app dirs stay, a
    missing base is a no-op, and a file (not dir) is never removed."""
    import time

    from qfilter_spark.functions import dedup

    stale = tmp_path / f"{dedup._NGRAM_EX_PREFIX}_deadapp_aa"
    stale.mkdir()
    old = time.time() - (dedup._NGRAM_EX_SWEEP_DAYS + 1) * 86_400
    os.utime(stale, (old, old))
    fresh = tmp_path / f"{dedup._NGRAM_EX_PREFIX}_otherapp_bb"
    fresh.mkdir()
    mine = tmp_path / f"{dedup._NGRAM_EX_PREFIX}_myapp_cc"
    mine.mkdir()
    os.utime(mine, (old, old))  # even an old dir of the LIVE app stays
    stray = tmp_path / f"{dedup._NGRAM_EX_PREFIX}_deadapp_file"
    stray.write_text("not a dir")
    os.utime(stray, (old, old))

    dedup._sweep_dead_tables(spark, str(tmp_path), "myapp")
    assert not stale.exists()
    assert fresh.exists() and mine.exists() and stray.exists()
    dedup._sweep_dead_tables(spark, str(tmp_path / "missing"), "myapp")


# ---------------------------------------------------------------------------
# round-5 ADVICE findings (fixed in the round-6 optimization round)
# ---------------------------------------------------------------------------

def test_lsh_params_for_degenerate_threshold():
    """ADVICE r5: threshold <= -1.0 gives p == 0, which used to raise
    ZeroDivisionError from log(1.0) in auto table sizing and silently
    bypassed the pinned-n_tables recall guard; it must be a ValueError
    naming the valid range, for pinned and auto geometries alike."""
    from qfilter_spark.functions import ann

    for bad in (-1.0, -2.0, float("nan"), 1.5):
        with pytest.raises(ValueError, match="threshold"):
            ann.lsh_params_for(10**6, bad)
        with pytest.raises(ValueError, match="threshold"):
            ann.lsh_params_for(10**6, bad, n_tables=16)
    # boundary values stay accepted
    assert ann.lsh_params_for(10**6, 1.0)[0] == 1
    # a valid-range-but-tiny p used to hit the SAME ZeroDivisionError via
    # 1.0 - p**n_bits rounding to 1.0; log1p routes it to the loud
    # impractical-geometry ValueError instead
    with pytest.raises(ValueError, match="impractical"):
        ann.lsh_params_for(10**6, -0.999)
    # and the usual auto geometry is unchanged by the log1p rewrite
    assert ann.lsh_params_for(10**6, 0.95) == (22, 10)


def test_lsh_params_for_min_recall_range():
    """ADVICE r6: min_recall >= 1 used to raise a bare ``math domain error``
    from log(0.0); every value outside (0, 1) must be a ValueError naming
    the parameter."""
    from qfilter_spark.functions import ann

    for bad in (1.0, 1.5, 0.0, -0.1, float("nan")):
        with pytest.raises(ValueError, match="min_recall"):
            ann.lsh_params_for(10**6, 0.95, min_recall=bad)
    assert ann.lsh_params_for(10**6, 0.95, min_recall=0.5)[0] >= 1


def test_grouped_values_n_items_excludes_nulls(spark):
    """ADVICE r5: values-mode build_grouped_sketches must report n_items as
    the values actually sketched — NULL rows become NaN and are filtered by
    the quantile kernels, so they must not inflate the count (hash/ngram
    modes never count refused/empty rows either)."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist.agg import build_grouped_sketches

    df = (spark.range(0, 200)
          .select(F.concat(F.lit("g"), (F.col("id") % 2).cast("string"))
                  .alias("g"),
                  F.when(F.col("id") % 5 != 0, F.col("id").cast("double"))
                  .alias("v")))
    spec = SketchSpec("tdigest", dict(compression=100.0), "values", "v")
    rows = {r["g"]: r for r in
            build_grouped_sketches(df, "g", spec).collect()}
    # 100 rows per group; ids divisible by 5 are NULL -> 20 NULLs per group
    for g in ("g0", "g1"):
        assert rows[g]["n_items"] == 80
        assert sketches.loads(bytes(rows[g]["payload"])).n == 80


def test_values_n_items_excludes_nulls(spark, tmp_path):
    """The ungrouped build counts like the grouped one: values-mode
    partial_sketches (and so build_sketch's lineage) report n_items as the
    values the sketch absorbed, not the rows it saw."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist.agg import build_sketch, partial_sketches
    from qfilter_spark.dist.checkpoint import MergeLineage

    df = spark.range(0, 200, numPartitions=4).select(
        F.when(F.col("id") % 5 != 0, F.col("id").cast("double")).alias("v"))
    spec = SketchSpec("kll", dict(k=50), "values", "v")
    parts = partial_sketches(df, spec).collect()
    for r in parts:
        assert r["n_items"] == sketches.loads(bytes(r["payload"])).n
    assert sum(r["n_items"] for r in parts) == 160   # 40 NULLs skipped
    lineage = MergeLineage(spark, str(tmp_path / "lineage"))
    blob = build_sketch(df, spec, fan_in=2, lineage=lineage)
    root = lineage.metrics(lineage.last_complete_round())
    assert [r["n_items"] for r in root] == [sketches.loads(blob).n] == [160]


def test_resume_override_rerecords_fan_in(spark, corpus_df, tmp_path):
    """ADVICE r4: resuming with an explicit fan_in override must become
    the manifest's truth, so a LATER resume regroups the same way."""
    from qfilter_spark.dist.agg import build_sketch
    from qfilter_spark.dist.checkpoint import MergeLineage, resume_tree_merge

    spec = SketchSpec(kind="rsqf",
                      params=dict(capacity=1 << 21, fp_rate=0.01,
                                  resizeable_from=1 << 12),
                      mode="tokens_ngram", col="tokens", ngram_n=3)
    ckpt = str(tmp_path / "lineage")
    lineage = MergeLineage(spark, ckpt)
    build_sketch(corpus_df, spec, fan_in=4, lineage=lineage)
    assert lineage.manifest_fan_in() == 4
    resume_tree_merge(spark, ckpt, fan_in=2)   # explicit override
    assert lineage.manifest_fan_in() == 2      # re-recorded
    resume_tree_merge(spark, ckpt)             # defaults to the override
    assert lineage.manifest_fan_in() == 2
