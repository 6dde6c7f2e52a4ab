"""ngram_jaccard_pairs vs brute force — including the HOT-shingle branch
(corpus-frequent shingles excluded from candidate generation but counted
exactly in the intersection), which gate-scale data never exercises."""

import itertools

import pytest
from pyspark.sql import functions as F

from qfilter_spark.functions import dedup


def brute_force(docs, n=3, t=800):
    """Exact all-pairs word-shingle Jaccard >= t/1000 (pure Python)."""
    sh = {}
    for doc_id, text in docs:
        words = text.split(" ")
        sh[doc_id] = {" ".join(words[i:i + n])
                      for i in range(len(words) - n + 1)} if len(words) >= n else set()
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sorted(sh.items()), 2):
        if not sa and not sb:
            continue
        jm = 1000 * len(sa & sb) // len(sa | sb)
        if jm >= t:
            out[(a, b)] = jm
    return out


@pytest.fixture(scope="module")
def hot_corpus():
    """Every doc shares an 8-word boilerplate (all its shingles have
    df == n_docs, far above max_df) plus distinct content; two pairs are
    near-duplicates whose similarity depends on BOTH hot and rare parts."""
    boiler = "terms of service apply to all content here"
    docs = []
    for i in range(40):
        body = " ".join(f"w{i}x{j}" for j in range(12))
        docs.append((f"d{i:02d}", f"{boiler} {body}"))
    # near-dup pair: same body, one word changed at the tail
    base = " ".join(f"same{j}" for j in range(20))
    docs.append(("e00", f"{boiler} {base} endA"))
    docs.append(("e01", f"{boiler} {base} endB"))
    # exact-dup pair
    docs.append(("f00", f"{boiler} alpha beta gamma delta epsilon zeta"))
    docs.append(("f01", f"{boiler} alpha beta gamma delta epsilon zeta"))
    return docs


def test_hot_branch_matches_brute_force(spark, hot_corpus):
    df = spark.createDataFrame(hot_corpus, "doc_id string, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jacc_millis"]
           for r in dedup.ngram_jaccard_pairs(df, max_df=10,
                                              threshold_millis=800).collect()}
    want = brute_force(hot_corpus, t=800)
    assert got == want
    assert ("f00", "f01") in got and got[("f00", "f01")] == 1000
    # sanity: the boilerplate really is hot (df = 44 > max_df = 10)
    sh = dedup.with_shingle_hashes(dedup.with_shingles(df))
    freqs = (sh.select(F.explode("shingle_hashes").alias("hs"))
             .groupBy("hs").count().agg(F.max("count")).collect()[0][0])
    assert freqs > 10


def test_lower_threshold_still_exact(spark, hot_corpus):
    df = spark.createDataFrame(hot_corpus, "doc_id string, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jacc_millis"]
           for r in dedup.ngram_jaccard_pairs(df, max_df=10,
                                              threshold_millis=300).collect()}
    want = brute_force(hot_corpus, t=300)
    # recall caveat: a qualifying pair with NO shared rare shingle is
    # legitimately missed; every pair found must have the exact score
    for pair, jm in got.items():
        assert want.get(pair) == jm
    # pairs sharing at least one rare shingle must all be found
    missed = set(want) - set(got)
    for a, b in missed:
        ta = dict(hot_corpus)[a].split(" ")
        tb = dict(hot_corpus)[b].split(" ")
        sa = {" ".join(ta[i:i + 3]) for i in range(len(ta) - 2)}
        sb = {" ".join(tb[i:i + 3]) for i in range(len(tb) - 2)}
        shared = sa & sb
        boiler_sh = {" ".join("terms of service apply to all content here"
                              .split(" ")[i:i + 3]) for i in range(6)}
        assert shared <= boiler_sh, (a, b, shared - boiler_sh)


# ---------------------------------------------------------------------------
# bucketed intermediate: one table per call, the last two kept live
# ---------------------------------------------------------------------------

def _write_docs(spark, tmp_path, name, docs):
    p = str(tmp_path / name)
    spark.createDataFrame(docs, "doc_id string, text string").write.parquet(p)
    return p


def test_repeated_calls_write_fresh_tables(spark, tmp_path):
    """Three calls over one input: identical pairs, each call writes its
    own table, and only the last two calls' tables stay live — the first
    call's catalog entry and directory are gone."""
    import os
    p = _write_docs(spark, tmp_path, "rep",
                    [(f"r{i}", " ".join(f"r{i % 6}x{j}" for j in range(8)))
                     for i in range(18)])
    docs = spark.read.parquet(p)
    results, tables = [], []
    for _ in range(3):
        results.append(sorted(
            (r.doc_a, r.doc_b, r.jacc_millis)
            for r in dedup.ngram_jaccard_pairs(docs).collect()))
        tables.append(dedup._ngram_ex_tables[-1])
    assert results[0] and results[0] == results[1] == results[2]
    assert len(set(tables)) == 3
    assert dedup._ngram_ex_tables == tables[1:]
    first_name, first_path = tables[0]
    assert not spark.catalog.tableExists(first_name)
    assert not os.path.isdir(first_path)
    for name, path in tables[1:]:
        assert spark.catalog.tableExists(name) and os.path.isdir(path)


def test_bucketed_table_lru_eviction(spark, tmp_path):
    """Keeping the last 2 calls' tables drops the oldest table's files
    and catalog entry."""
    import os
    paths = [_write_docs(spark, tmp_path, f"ev{k}",
                         [(f"d{k}_{i}", " ".join(f"v{k}w{i}x{j}" for j in range(6)))
                          for i in range(10)])
             for k in range(3)]
    tables = []
    for p in paths:
        dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
        tables.append(dedup._ngram_ex_tables[-1])
    assert len(dedup._ngram_ex_tables) <= dedup._NGRAM_EX_KEEP
    t0_name, t0_path = tables[0]
    assert not spark.catalog.tableExists(t0_name)
    assert not os.path.isdir(t0_path)
    # survivors still readable
    for name, path in tables[-dedup._NGRAM_EX_KEEP:]:
        assert spark.catalog.tableExists(name) and os.path.isdir(path)


def test_intermediate_dir_conf_respected(spark, tmp_path):
    """spark.qfilter.intermediateDir redirects where tables are written."""
    import os
    target = str(tmp_path / "qfs_intermediate")
    os.makedirs(target, exist_ok=True)
    spark.conf.set("spark.qfilter.intermediateDir", target)
    try:
        p = _write_docs(spark, tmp_path, "confdir",
                        [(f"c{i}", " ".join(f"c{i}x{j}" for j in range(6)))
                         for i in range(10)])
        dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
        _, path = dedup._ngram_ex_tables[-1]
        assert path.startswith(target)
        assert os.path.isdir(path)
    finally:
        spark.conf.unset("spark.qfilter.intermediateDir")


def test_overwritten_input_gets_fresh_table(spark, tmp_path):
    """An input OVERWRITTEN in place mid-session gets a fresh bucketed
    table and answers from its new contents, never from the table the
    first call wrote."""
    p = _write_docs(spark, tmp_path, "fresh1",
                    [(f"d{i}", " ".join(f"a{i}x{j}" for j in range(8)))
                     for i in range(10)])
    dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
    t1 = dedup._ngram_ex_tables[-1][0]

    # overwrite the SAME path with two exact-duplicate docs
    dup = " ".join(f"z{j}" for j in range(12))
    (spark.createDataFrame([("n1", dup), ("n2", dup)],
                           "doc_id string, text string")
     .write.mode("overwrite").parquet(p))
    pairs = dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
    t2 = dedup._ngram_ex_tables[-1][0]
    assert t2 != t1, "stale table served after in-place overwrite"
    assert {(r.doc_a, r.doc_b) for r in pairs} == {("n1", "n2")}


def test_changed_intermediate_dir_fresh_table(spark, tmp_path):
    """Changing spark.qfilter.intermediateDir mid-session must write to
    the NEW location (each call reads the conf when it writes)."""
    import os
    p = _write_docs(spark, tmp_path, "movedir",
                    [(f"m{i}", " ".join(f"m{i}x{j}" for j in range(6)))
                     for i in range(10)])
    dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
    _, path_before = dedup._ngram_ex_tables[-1]
    target = str(tmp_path / "relocated")
    os.makedirs(target, exist_ok=True)
    spark.conf.set("spark.qfilter.intermediateDir", target)
    try:
        dedup.ngram_jaccard_pairs(spark.read.parquet(p)).collect()
        _, path_after = dedup._ngram_ex_tables[-1]
        assert path_after.startswith(target)
        assert path_after != path_before
    finally:
        spark.conf.unset("spark.qfilter.intermediateDir")


def test_long_document_shingling_not_quadratic(spark):
    """Canary for the round-4 CollapseProject quadratic: shingle-hash and
    explode 48 long (4096-word) docs. The zip-of-slices construction does
    this in ~1-3 s; the old per-element-indexing form re-evaluated an
    O(len) expression per shingle (interpreted) and took minutes at this
    shape. The 60 s budget is ~20x the expected time — far above steal
    noise, far below the quadratic's cost."""
    import time

    from pyspark.sql import functions as F

    docs = (spark.range(48).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(4095)),
            lambda i: (F.xxhash64(i + F.col("id") * 4096) % 50000)
            .cast("string"))).alias("text")))
    t0 = time.perf_counter()
    n = (dedup.with_shingle_hashes(dedup.with_shingles(docs))
         .select(F.explode("shingle_hashes").alias("hs"))
         .groupBy("hs").count().count())
    elapsed = time.perf_counter() - t0
    assert n > 100_000          # the shingles were really computed
    assert elapsed < 60, f"shingling 48x4096-word docs took {elapsed:.0f}s"


def test_pair_counts_no_self_pairs_on_duplicate_doc_ids(spark):
    """Round-5 review: a doc_id ingested twice puts two copies in a
    posting list; the positional pairing must not emit (d, d) self-pairs
    (the old a.doc_id < b.doc_id join excluded them structurally)."""
    ex = spark.createDataFrame(
        [("d1", 10), ("d1", 10), ("d1", 11), ("d2", 10), ("d2", 11)],
        "doc_id string, hs long")
    rows = dedup._pair_counts(ex, "inter").collect()
    got = {(r.doc_a, r.doc_b): r.inter for r in rows}
    assert all(a != b for a, b in got), f"self-pair emitted: {got}"
    assert got[("d1", "d2")] >= 2      # real pair still counted

    # the production rare stage runs the CARRY path (posting structs) —
    # pin the same guard there, plus the carried values themselves
    # (constant per doc, so min must reproduce them exactly)
    ex_c = ex.withColumn(
        "n_sh", F.when(F.col("doc_id") == "d1", 3).otherwise(2)
    ).withColumn(
        "n_hot", F.when(F.col("doc_id") == "d1", 1).otherwise(0))
    rows_c = dedup._pair_counts(ex_c, "inter",
                                carry=("n_sh", "n_hot")).collect()
    got_c = {(r.doc_a, r.doc_b): r for r in rows_c}
    assert all(a != b for a, b in got_c), f"self-pair emitted: {got_c}"
    r12 = got_c[("d1", "d2")]
    assert r12.inter == got[("d1", "d2")]   # counts agree with no-carry
    assert (r12.n_sh_a, r12.n_hot_a) == (3, 1)
    assert (r12.n_sh_b, r12.n_hot_b) == (2, 0)


def test_rare_pair_stats_shuffle_fallback_matches_broadcast(spark):
    """spark.qfilter.ngram.statsBroadcast=false must produce the exact
    same pair set through the shuffle-join plan (the >10^8-doc escape
    hatch for the broadcast build's 8 GB ceiling)."""
    ex_f = spark.createDataFrame(
        [("d1", 10, 1), ("d1", 11, 1), ("d1", 99, 9),
         ("d2", 10, 1), ("d2", 11, 1),
         ("d3", 11, 1), ("d3", 99, 9)],
        "doc_id string, hs long, freq long")

    def run():
        rows = dedup._rare_pair_stats(ex_f, max_df=5).collect()
        return sorted((r.doc_a, r.doc_b, r.inter_rare,
                       r.n_a, r.n_b, r.hot_a, r.hot_b) for r in rows)

    base = run()
    assert base, "rare stage produced no pairs on a sharing corpus"
    spark.conf.set("spark.qfilter.ngram.statsBroadcast", "false")
    try:
        assert run() == base
    finally:
        spark.conf.unset("spark.qfilter.ngram.statsBroadcast")
