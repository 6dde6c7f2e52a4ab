"""Plan audit: .explain("formatted") checks for the headline query shapes.

Asserts the properties the engine is designed around (SURVEY.md §4.2):
- parquet scans are column-pruned (ReadSchema carries only needed columns)
- JVM expression stages run inside WholeStageCodegen
- the partial sketch build reuses the scan partitioning (no Exchange
  between the scan and the ArrowEvalPython/MapInArrow stage); a small
  input is sized by a narrow Coalesce instead
- the grouped build folds per group in the same map stage: raw rows never
  cross an Exchange, only the per-group partials do
- a probe of a small written sharded filter table runs one Python stage
  and no cogroup, and with a one-task emit stage no per-key
  HashAggregate; with ``spark.sql.autoBroadcastJoinThreshold=-1`` it
  keeps the co-partitioned cogroup (counted from the event log, per job
  group)
- ``probe_hashes`` over a sketch blob and ``count_sharded`` over a small
  table are the same per-row map: one MapInArrow, no Exchange
- a one-task sharded build is Coalesce -> MapInArrow: the emit task
  merges every row, with no Sort or FlatMapGroupsInArrow behind it
- a checkpointed ``tree_merge`` of at most ``fan_in`` partials is one
  Spark job: the driver commits round 0 and the root
- ``probe_hashes`` over local rows (no statistics) is one MapInArrow over
  the input's own partitions, with no Exchange: Spark cannot tell such an
  input from a large one, where a raw-row shuffle costs more than the
  probe's task count saves

Usage: python scripts/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per check plus the formatted plans to stderr.
"""

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    logs = tempfile.mkdtemp(prefix="explain_audit_events_")
    spark = audit_session(logs)

    from qfilter_spark.dist import (
        SketchSpec, build_grouped_sketches, partial_sketches)
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

    # 1b. grouped build: keyed partials in the map stage, then the merge
    grouped = build_grouped_sketches(docs, "source", SketchSpec(
        "hll", dict(p=12), "hash_col", "h"))
    plan1b = grouped._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    print(plan1b, file=sys.stderr)
    below = plan1b.split("\n\n")[0].split("MapInArrow", 1)[1]
    check("grouped build: no Exchange between the scan and MapInArrow "
          "(raw rows are never shuffled)",
          "Exchange" not in below and "Scan parquet" in below,
          "per-group fold in the map stage")

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
    table = dedup._ngram_ex_tables[-1][0]  # the table that call wrote
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

    # 6. sharded probe: broadcast a small table, cogroup otherwise
    shapes = sharded_probe_shapes(spark, logs, tempfile.mkdtemp())
    print(shapes, file=sys.stderr)
    small, cogrouped = shapes["default"], shapes["-1"]
    check("small sharded table: the probe is one Python stage, no "
          "FlatMapCoGroupsInArrow",
          small["python_stages"] == 1 and not small["cogroup"],
          f"{small['python_stages']} Python stages")
    check("small sharded table, one emit task: the probe sums in that "
          "task, no HashAggregate", not small["hash_aggregate"])
    check("broadcast threshold -1: the one-task probe keeps the "
          "co-partitioned cogroup",
          cogrouped["cogroup"] and cogrouped["python_stages"] == 2,
          f"{cogrouped['python_stages']} Python stages")

    # 7. one per-row probe map for a sketch blob and a broadcast table
    for name, tree in probe_map_plans(spark, tempfile.mkdtemp()).items():
        print(tree, file=sys.stderr)
        check(f"{name}: one MapInArrow, no Exchange",
              tree.count("MapInArrow") == 1 and "Exchange" not in tree,
              "the broadcast per-row probe map")

    # 8. a one-task sharded build merges its rows in the emit task
    tree = one_task_build_plan(spark)
    print(tree, file=sys.stderr)
    check("one-task sharded build: Coalesce then MapInArrow, no Sort, "
          "FlatMapGroupsInArrow or Exchange",
          tree.count("MapInArrow") == 1
          and "Coalesce" in tree.split("MapInArrow", 1)[1]
          and not any(op in tree for op in
                      ("Sort", "FlatMapGroupsInArrow", "Exchange")),
          "one Python stage")

    # 9. a small checkpointed merge: one job
    jobs = checkpointed_merge_jobs(spark, tempfile.mkdtemp())
    check("checkpointed tree_merge of <= fan_in partials: one Spark job",
          len(jobs) == 1, f"stage tasks per job {jobs}")

    # 10. a probe over local rows: no Exchange, the input's partitions
    tree, jobs, n_parts = local_rows_probe(spark)
    print(tree, file=sys.stderr)
    check("local-rows probe_hashes: one MapInArrow over the input's "
          "partitions, no Exchange",
          "Exchange" not in tree and tree.count("MapInArrow") == 1
          and jobs == [[n_parts]], f"stage tasks per job {jobs}")

    spark.stop()
    print(f"{failures} failures")
    sys.exit(1 if failures else 0)


def audit_session(logs: str):
    """The audit's local session, logging uncompressed events to ``logs``
    (Python workers find the package through PYTHONPATH)."""
    os.environ.setdefault("PYTHONPATH", REPO)
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logs)
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.adaptive.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sharded_probe_shapes(spark, logs: str, work: str) -> dict:
    """Per broadcast threshold ("default", "-1"): the Spark work of one
    ``probe_sharded`` call on a written 8-shard table (a one-task emit
    stage), counted with the job-group, StatusTracker and event-log
    recipe: jobs, stages, Python stages and tasks, and whether the plan
    has FlatMapCoGroupsInArrow and HashAggregate.
    ``spark`` must log uncompressed events to ``logs``."""
    from pyspark.sql import functions as F

    from perfbench.trace import read_event_log
    from qfilter_spark import sources
    from qfilter_spark.dist import SketchSpec
    from qfilter_spark.dist.sharded import build_sharded_filter, probe_sharded

    sc = spark.sparkContext
    spec = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01),
                      "hash_col", "h")
    hashes = spark.range(0, 6000, numPartitions=4).select(
        F.xxhash64("id").alias("h"))
    path = os.path.join(work, "sharded_probe_table")
    sources.write_filter_table(
        build_sharded_filter(hashes, spec, n_shards=8), path)
    table = sources.read_filter_table(spark, path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def call():
        out = probe_sharded(hashes, "h", table, 8, spec)
        out.collect()
        return out._jdf.queryExecution().executedPlan().toString()

    call()  # warm-up: worker start-up
    shapes = {}
    try:
        for group, threshold in ((901, None), (902, "-1")):
            if threshold is not None:
                spark.conf.set(key, threshold)
            sc.setJobGroup(str(group), "sharded probe")  # digit: a span
            try:
                plan = call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(str(group))
            shapes[threshold or "default"] = dict(
                group=group, cogroup="FlatMapCoGroupsInArrow" in plan,
                hash_aggregate="HashAggregate" in plan, jobs=len(jobs),
                stages=sum(len(st.getJobInfo(j).stageIds) for j in jobs))
    finally:
        spark.conf.set(key, old)
    stages = read_event_log(logs)[0]
    for shape in shapes.values():
        py = [s for s in stages if s.span == shape["group"]
              and "time to run Python workers" in s.sql]
        shape.update(python_stages=len(py),
                     python_tasks=sum(s.tasks for s in py))
    return shapes


def probe_map_plans(spark, work: str) -> dict:
    """Formatted operator trees of ``probe_hashes`` over a sketch blob and
    of ``count_sharded`` over a small written 8-shard table (the broadcast
    plan under the session's default threshold)."""
    from pyspark.sql import functions as F

    from qfilter_spark import sources
    from qfilter_spark.dist import SketchSpec, build_sketch
    from qfilter_spark.dist.probe import probe_hashes
    from qfilter_spark.dist.sharded import build_sharded_filter, count_sharded

    spec = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01),
                      "hash_col", "h")
    hashes = spark.range(0, 6000, numPartitions=4).select(
        F.xxhash64("id").alias("h"))
    path = os.path.join(work, "count_table")
    sources.write_filter_table(
        build_sharded_filter(hashes, spec, n_shards=8), path)
    table = sources.read_filter_table(spark, path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    frames = {"probe_hashes": probe_hashes(hashes, build_sketch(hashes, spec),
                                           "h"),
              "broadcast count_sharded": count_sharded(hashes, "h", table, 8,
                                                       spec)}
    return {name: df._jdf.queryExecution().explainString(mode)
            .split("\n\n")[0] for name, df in frames.items()}


def one_task_build_plan(spark) -> str:
    """The formatted operator tree of ``build_sharded_filter`` over a tiny
    4-partition input, which sizes to one emit task."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist import SketchSpec
    from qfilter_spark.dist.sharded import build_sharded_filter

    spec = SketchSpec("rsqf", dict(capacity=8192, fp_rate=0.01),
                      "hash_col", "h")
    hashes = spark.range(0, 6000, numPartitions=4).select(
        F.xxhash64("id").alias("h"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return (build_sharded_filter(hashes, spec, n_shards=8)._jdf
            .queryExecution().explainString(mode).split("\n\n")[0])


def stage_tasks(spark, call) -> list:
    """Per Spark job ``call`` runs, in job order: the task count of each
    stage that ran (a skipped stage is left out)."""
    import uuid

    sc = spark.sparkContext
    group = f"audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "audit")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = []
    for job in sorted(st.getJobIdsForGroup(group)):
        stages = (st.getStageInfo(s)
                  for s in sorted(st.getJobInfo(job).stageIds))
        out.append([s.numTasks for s in stages
                    if s is not None and s.numCompletedTasks])
    return out


def checkpointed_merge_jobs(spark, work: str) -> list:
    """:func:`stage_tasks` of one checkpointed KLL ``tree_merge`` at
    ``fan_in=4`` over the partials of a tiny 4-partition input."""
    from pyspark.sql import functions as F

    from qfilter_spark.dist import SketchSpec, partial_sketches, tree_merge
    from qfilter_spark.dist.checkpoint import MergeLineage

    values = spark.range(0, 6000, numPartitions=4).select(
        F.sin("id").alias("v"))
    spec = SketchSpec("kll", dict(k=50), "values", "v")
    lineage = MergeLineage(spark, os.path.join(work, "lineage"))
    parts = partial_sketches(values, spec)
    n = parts.rdd.getNumPartitions()
    return stage_tasks(spark, lambda: tree_merge(
        parts, fan_in=4, lineage=lineage, n_partials=n))


def local_rows_probe(spark) -> tuple:
    """The final executed operator tree and :func:`stage_tasks` of one
    ``probe_hashes`` over 2000 ``createDataFrame`` rows, and the input's
    partition count."""
    from pyspark.sql import functions as F

    from qfilter_spark import sketches
    from qfilter_spark.dist.probe import probe_hashes

    local = spark.createDataFrame(
        [(i,) for i in range(2000)], "id long").select(
        F.xxhash64("id").alias("h"))
    blob = sketches.create("cms", eps=0.01, delta=0.01).to_bytes()
    out = probe_hashes(local, blob, "h")
    jobs = stage_tasks(spark, out.collect)
    tree = out._jdf.queryExecution().executedPlan().toString()
    return (tree.split("== Initial Plan ==")[0], jobs,
            local.rdd.getNumPartitions())


if __name__ == "__main__":
    main()
