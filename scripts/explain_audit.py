"""Plan audit: .explain("formatted") checks for the headline query shapes.

Asserts the properties the engine is designed around (SURVEY.md §4.2):
- parquet scans are column-pruned (ReadSchema carries only needed columns)
- JVM expression stages run inside WholeStageCodegen
- the partial sketch build reuses the scan partitioning (no Exchange
  between the scan and the ArrowEvalPython/MapInArrow stage); a small
  input is sized by a narrow Coalesce instead

Usage: python scripts/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per check plus the formatted plans to stderr.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from qfilter_spark.dist import SketchSpec, partial_sketches
    from qfilter_spark.functions import dedup, text as T

    failures = 0

    def check(name, cond, detail=""):
        nonlocal failures
        print(f"{'PASS' if cond else 'FAIL'} {name}" + (f": {detail}" if detail else ""))
        failures += 0 if cond else 1

    # 1. partial build: column pruning reaches the scan, no pre-build shuffle
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .withColumn("h", F.xxhash64(F.col("doc_id")))
    parts = partial_sketches(docs, SketchSpec(
        "rsqf", dict(capacity=4096, fp_rate=0.01), "hash_col", "h"))
    plan = parts._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan, file=sys.stderr)
    check("partial-build scan reads only doc_id",
          "ReadSchema: struct<doc_id:" in plan
          and "text" not in plan.split("ReadSchema:")[1].splitlines()[0],
          "column pruning")
    # the operator tree, root first: what lies below the Arrow stage
    below = plan.split("\n\n")[0].split("MapInArrow", 1)[1]
    check("partial-build has no Exchange before the Arrow stage",
          "Exchange" not in below, "scan partitioning reused")
    check("sized partial build: Coalesce, no Exchange, between the scan "
          "and MapInArrow",
          "Coalesce" in below and "Exchange" not in below
          and "Scan parquet" in below, "narrow input sizing")

    # 2. text quality: pure JVM expressions inside WholeStageCodegen
    q = (docs.withColumn("bucket", T.quality_bucket(F.col("text")))
         .groupBy("bucket").agg(F.count("*").alias("n")))
    plan2 = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan2, file=sys.stderr)
    # under AQE, codegen ids only appear in the post-execution plan; the
    # pre-execution assertion is the pure-JVM partial/final agg shape
    check("text-quality is a pure-JVM partial/final hash aggregate",
          plan2.count("HashAggregate") >= 2 and "Scan parquet" in plan2)
    check("text-quality plan has no Python eval",
          "Python" not in plan2 and "Arrow" not in plan2)

    # 3. dedup shingling: filter pushdown on a selective predicate
    sel = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("source") == "web").select("doc_id", "text")
    plan3 = sel._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan3, file=sys.stderr)
    check("selective predicate pushed to parquet",
          "PushedFilters: [IsNotNull(source), EqualTo(source,web)]" in plan3)

    # 4. minhash candidate join is an equi-join Catalyst can plan
    sh = dedup.with_shingle_hashes(dedup.with_shingles(sel))
    sig = dedup.minhash_signatures(sh)
    cand = dedup.lsh_candidate_pairs(sig)
    plan4 = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan4, file=sys.stderr)
    check("LSH candidate generation plans a hash equi-join",
          ("SortMergeJoin" in plan4) or ("ShuffledHashJoin" in plan4)
          or ("BroadcastHashJoin" in plan4))

    # 5. ngram-jaccard intermediate: bucketed scan with pushed freq filter
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.ngram_jaccard_pairs(docs)  # materializes the bucketed table
    from qfilter_spark.functions.dedup import _ngram_ex_cache
    table = next(reversed(_ngram_ex_cache.values()))[0]  # most recent table
    # the audited stage IS the production stage: _rare_pair_stats is the
    # exact function ngram_jaccard_pairs calls, at the production default
    # max_df — no hand-copied wiring that could drift
    pc = dedup._rare_pair_stats(spark.table(table),
                                dedup.DEFAULT_NGRAM_MAX_DF)
    plan5 = pc._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan5, file=sys.stderr)
    # posting-list pair counting with carried stats (round 5): the
    # per-shingle collect_list aggregate must be satisfied by the bucketed
    # scan (NO exchange on hs), the freq filter must be pushed to parquet,
    # the stats join must really BROADCAST (a silent degrade to a shuffle
    # join on doc_id would re-create the pair-set-join cost the carry
    # removed), and the ONLY hash exchanges are the two legitimate
    # aggregations: the (doc_a, doc_b) pair shuffle (struct-field grouping
    # keys surface under Catalyst's generated _groupingexpression name)
    # and the per-doc stats aggregation on doc_id
    hp_names = set(re.findall(r"hashpartitioning\((\w+)", plan5))
    allowed = ("doc_a", "_groupingexpression", "doc_id")
    check("ngram rare-pair stage (production _rare_pair_stats): bucketed "
          "scan, pushed freq filter, broadcast stats join, exchanges "
          "exactly {pair agg, stats agg}",
          "Bucketed: true" in plan5
          and f"LessThanOrEqual(freq,{dedup.DEFAULT_NGRAM_MAX_DF})" in plan5
          and "BroadcastHashJoin" in plan5
          and any(n.startswith(("doc_a", "_groupingexpression"))
                  for n in hp_names)
          and all(n.startswith(allowed) for n in hp_names))

    spark.stop()
    print(f"{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
