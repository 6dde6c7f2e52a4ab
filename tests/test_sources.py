"""The corpus and filter-table readers: the schema comes from one footer
read on the driver, so opening a table runs no Spark job."""

import uuid

from qfilter_spark import fsutil, sources


def _jobs(spark, call):
    """(result of ``call()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_corpus_matches_inference_without_a_job(spark, corpus_dir):
    corpus, jobs = _jobs(spark, lambda: sources.read_corpus(spark, corpus_dir))
    assert jobs == 0
    inferred = spark.read.parquet(corpus_dir)
    assert corpus.schema == inferred.schema
    assert corpus.schema.simpleString() == (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>")
    assert sorted(corpus.collect()) == sorted(inferred.collect())


def test_parquet_schema_skips_hidden_names(spark, tmp_path):
    """Hidden names are skipped on the way to a data file; a location
    without one has no schema."""
    assert fsutil.parquet_schema(spark, str(tmp_path / "missing")) is None
    (tmp_path / "_temporary").mkdir()
    (tmp_path / ".hidden.parquet").write_bytes(b"not parquet")
    assert fsutil.parquet_schema(spark, str(tmp_path)) is None
    spark.range(3).selectExpr("id", "cast(id as string) s").write.parquet(
        str(tmp_path / "_x=1"))
    assert fsutil.parquet_schema(spark, str(tmp_path)).simpleString() == (
        "struct<id:bigint,s:string>")
