#!/usr/bin/env python3
"""qfilter_spark benchmark: one seeded, closed-loop workload per call.

    python3 perfbench/run.py --workload ngram_filter --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One client issues one Spark job at a time
in ``local[n]``, n = the CPUs this process may use. A run sets up (session
start, seeded inputs, fixtures, untimed warm-up iterations), then runs
iterations for ``--seconds`` and checks every answer.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics: it measures untraced and traced iterations in two
sessions (their difference is ``trace.overhead_s``), records the Spark event
log of the traced one, writes the span file, and replays the Python-side
kernels on a sample of the workload's inputs.

Standard output carries a full report line (every metric of the workload,
host facts, checks) and, as its last line, the result object. The exit code
is non-zero when any call or correctness check failed.

``python3 perfbench/smoke.py`` runs every workload at a tiny size and checks
that every metric is emitted with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: input sizes; "full" is what the benchmark measures
SIZES = {
    "full": dict(n_docs=2500, n_absent=200_000, batch_docs=25, n_batches=8,
                 n_candidates=2000),
    "smoke": dict(n_docs=300, n_absent=5000, batch_docs=10, n_batches=2,
                  n_candidates=200),
}
SETUP_REPS = 3
#: untimed iterations before measuring: the second iteration of a fresh
#: session still runs ~15% slower than later ones (JIT, worker start-up)
WARMUP_ITERATIONS = 2
#: measured iterations a run makes even when they outlast --seconds, so
#: every median has at least this many samples
MIN_ITERATIONS = 3

#: metrics of the result line: name -> unit
END_TO_END = {"job_cpu_s": "s", "setup_s": "s"}
PER_LAYER = {
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "ngrams.ngrams": "count", "ngrams.ns_per_ngram": "ns",
    "rsqf.insert_ns_per_key": "ns", "rsqf.contains_ns_per_key": "ns",
    "rsqf.count_ns_per_key": "ns", "rsqf.remove_ns_per_key": "ns",
    "rsqf.bitmap_build_s": "s",
    "blocks.encode_ns_per_key": "ns", "blocks.decode_ns_per_key": "ns",
    "blocks.bytes_per_key": "B",
    **{f"sketches.{k}.{m}": u for k in ("hll", "cms", "kll", "tdigest")
       for m, u in (("update_ns_per_item", "ns"), ("merge_ms", "ms"),
                    ("blob_kb", "KB"))},
    "dist.shuffle_mb": "MB", "dist.task_skew": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.run_s": "s", "spark.cpu_s": "s",
    "spark.gc_s": "s", "spark.python_s": "s", "spark.idle_s": "s",
    "spark.driver_s": "s", "trace.overhead_s": "s",
}
#: workload-specific metrics of the report line
REPORT_UNITS = {
    "job_s": "s", "tokens_per_s": "tokens/s", "peak_rss_mb": "MB",
    "build_s": "s", "probe_s": "s", "update_s": "s",
    "update_tail_s": "s", "fpr": "ratio", "bytes_per_key": "B",
    "est_error_vs_bound": "ratio", "error_rate": "ratio",
    "dist.sharded.emit_s": "s", "dist.sharded.shuffle_mb": "MB",
    "dist.sharded.merge_s": "s", "dist.sharded.task_skew": "ratio",
    "dist.sharded.spill_mb": "MB", "dist.sharded.write_s": "s",
    "dist.sharded.probe_stage_s": "s", "dist.sharded.write_amp": "ratio",
    "dist.agg.partial_s": "s", "dist.agg.merge_rounds": "count",
    "dist.agg.round_s": "s", "dist.agg.blob_shuffle_mb": "MB",
    "dist.agg.salt_skew": "ratio",
    "dist.probe.broadcast_mb": "MB", "dist.probe.stage_s": "s",
    "dist.checkpoint.write_s": "s", "dist.checkpoint.written_mb": "MB",
    "scaling.speedup": "ratio",
}
WORKLOAD_METRICS = {
    "ngram_filter": ["build_s", "probe_s", "fpr", "bytes_per_key"],
    "ingest_retract": ["probe_s", "update_s", "update_tail_s",
                       "bytes_per_key"],
    "source_stats": ["est_error_vs_bound"],
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.work = WORK
        self.seed = seed
        self.tracer = tracer


class Run:
    """One session's setup, warm-up and measured iterations."""

    def __init__(self, cores: int):
        self.cores = cores
        self.session_s = 0.0
        self.setup_reps: list[float] = []
        self.warmup_s = 0.0
        self.iterations: list[dict] = []    # measured only
        self.calls = 0
        self.failed_calls = 0
        self.checks: list[tuple[int, str, bool]] = []
        self.tracer = None
        self.workload = None
        self.replay: dict = {}

    @property
    def failed_checks(self) -> list:
        return [c for c in self.checks if not c[2]]

    def iteration(self, wl, it: int) -> dict:
        from perfbench.host import tree_cpu_s

        tr = wl.ctx.tracer
        first = len(tr.spans)
        cpu0 = tree_cpu_s()
        try:
            with tr.span("iteration", it) as s_it:
                values, checks = wl.iterate(it)
        finally:
            calls = [s for s in tr.spans[first:]
                     if s.name != "iteration" and not s.name.startswith(
                         "check.")]
            self.calls += len(calls)
        self.checks += [(it, name, bool(ok)) for name, ok in checks]
        for name, ok in checks:
            if not ok:
                log(f"CHECK FAILED (iteration {it}): {name}")
        values["job_cpu_s"] = tree_cpu_s() - cpu0
        values["job_s"] = s_it.wall - sum(
            s.wall for s in tr.spans[first:] if s.name.startswith("check."))
        if "tokens_per_s" not in values:
            values["tokens_per_s"] = values["work_items"] / values["job_s"]
        values["it"] = it
        return values


def make_workload(name: str, ctx, size: str):
    from perfbench.workloads import WORKLOADS

    p = SIZES[size]
    cls = WORKLOADS[name]
    if name == "ngram_filter":
        return cls(ctx, p["n_docs"], p["n_absent"])
    if name == "ingest_retract":
        return cls(ctx, p["n_docs"], p["batch_docs"], p["n_batches"])
    return cls(ctx, p["n_docs"], p["n_candidates"])


def session_run(args, seconds: float, cores: int, setup_reps: int,
                event_log: str | None = None, replay: bool = False,
                warmups: int = WARMUP_ITERATIONS,
                min_iterations: int = MIN_ITERATIONS) -> Run:
    """Start a session, set up ``setup_reps`` times, warm up, and measure
    iterations for ``seconds`` (at least ``min_iterations``); the session is
    stopped before returning."""
    from perfbench import host, trace

    run = Run(cores)
    spark, run.session_s = host.make_session(WORK, cores, event_log)
    run.tracer = trace.Tracer(spark if event_log else None)
    wl = run.workload = make_workload(args.workload,
                                      Ctx(spark, args.seed, run.tracer),
                                      args.size)
    try:
        for _ in range(setup_reps):
            t0 = time.perf_counter()
            wl.setup()
            run.setup_reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for it in range(warmups):
            run.iteration(wl, it)
        run.warmup_s = time.perf_counter() - t0
        start, it = time.perf_counter(), warmups
        while (it < warmups + min_iterations
               or time.perf_counter() - start < seconds):
            run.iterations.append(run.iteration(wl, it))
            it += 1
        if replay:
            from perfbench.replay import replay as kernel_replay

            run.replay = kernel_replay(*wl.replay_inputs())
    except Exception:  # a failing call is counted and ends the run
        traceback.print_exc()
        run.failed_calls += 1
    finally:
        spark.stop()
    return run


def med(run: Run, key: str) -> float:
    vals = []
    for v in run.iterations:
        x = v[key]
        vals.extend(x if isinstance(x, list) else [x])
    return statistics.median(vals)


def tail(samples: list[float]) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest whole percentile with at least
    ten samples above it; (None, None) with ten samples or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return None, None
    pct = (100 * (n - 10)) // n
    return s[max(0, -(-pct * n // 100) - 1)], pct


def end_to_end(run: Run, watch, name: str) -> dict:
    """Every end-to-end metric of workload ``name``: {metric: value}."""
    out = {
        "setup_s": run.session_s + statistics.median(run.setup_reps)
        + run.warmup_s,
        "job_s": med(run, "job_s"),
        "job_cpu_s": med(run, "job_cpu_s"),
        "tokens_per_s": med(run, "tokens_per_s"),
        "peak_rss_mb": watch.peak_rss_mb,
    }
    for m in WORKLOAD_METRICS[name]:
        if m == "update_tail_s":
            out[m], _ = tail([x for v in run.iterations
                              for x in v["update_s"]])
        else:
            out[m] = med(run, m)
    attempted = run.calls + len(run.checks)
    out["error_rate"] = (run.failed_calls + len(run.failed_checks)) / max(
        attempted, 1)
    return out


def layer_metrics(run: Run, stages: list, jobs: list) -> dict:
    """Per-layer metrics of the traced run, per measured iteration."""
    from perfbench.trace import covered

    spans = run.tracer.spans
    measured = {v["it"] for v in run.iterations}
    n_it = len(measured)

    def names(span_id):
        while span_id is not None:
            yield spans[span_id].name
            span_id = spans[span_id].parent

    ms = [st for st in stages if st.span is not None
          and spans[st.span].iteration in measured]

    def under(*prefixes):
        return [st for st in ms if any(n.startswith(prefixes)
                                       for n in names(st.span))]

    def per_it(x):
        return x / n_it

    def run_s(sts):
        return per_it(sum(st.task_run_s for st in sts))

    def skew(sts):
        """Median over multi-task stages of max / median task time (1.0
        when every stage ran as a single task)."""
        ratios = [max(st.run_s) / max(statistics.median(st.run_s), 1e-3)
                  for st in sts if len(st.run_s) > 1]
        return statistics.median(ratios) if ratios else 1.0

    def mb(x):
        return per_it(x) / 2**20

    its = [s for s in spans if s.name == "iteration" and s.iteration in measured]
    out = {
        "spark.jobs": per_it(sum(1 for j in jobs
                                 if j is not None and spans[j].iteration
                                 in measured)),
        "spark.tasks": per_it(sum(st.tasks for st in ms)),
        "spark.failed_tasks": per_it(sum(st.failed_tasks for st in ms)),
        "spark.run_s": run_s(ms),
        "spark.cpu_s": per_it(sum(st.cpu_s for st in ms)),
        "spark.gc_s": per_it(sum(st.gc_s for st in ms)),
        "spark.python_s": per_it(sum(st.sql.get(
            "time to run Python workers", 0) for st in ms) / 1e3),
        "spark.idle_s": per_it(sum(s.wall for s in its) * run.cores
                               - sum(st.task_run_s for st in ms)),
        "spark.driver_s": per_it(sum(
            s.wall - covered([(max(st.submitted, s.start),
                               min(st.completed, s.end))
                              for st in ms if st.submitted < s.end
                              and st.completed > s.start])
            for s in its)),
        "sources.scan_s": per_it(sum(st.sql.get("scan time", 0)
                                     for st in ms) / 1e3),
        "sources.input_mb": mb(sum(st.input_bytes for st in ms)),
    }
    dist = under("dist.")
    out["dist.shuffle_mb"] = mb(sum(st.shuffle_write for st in dist))
    out["dist.task_skew"] = skew(dist)

    sh = under("dist.sharded.")
    if sh:
        writes = under("dist.sharded.build_sharded_filter",
                       "dist.sharded.insert_sharded",
                       "dist.sharded.remove_sharded")
        probes = under("dist.sharded.probe_sharded")
        out.update({
            "dist.sharded.emit_s": run_s([st for st in sh
                                          if not st.shuffle_read]),
            "dist.sharded.shuffle_mb": mb(sum(st.shuffle_write for st in sh)),
            "dist.sharded.merge_s": run_s([st for st in writes
                                           if st.shuffle_read]),
            "dist.sharded.task_skew": skew(sh),
            "dist.sharded.spill_mb": mb(sum(st.spill_bytes for st in sh)),
            "dist.sharded.write_s": per_it(sum(st.sql.get(
                "task commit time", 0) for st in writes) / 1e3),
            "dist.sharded.probe_stage_s": run_s([st for st in probes
                                                 if st.shuffle_read]),
            "dist.sharded.write_amp": med(run, "write_amp"),
        })
    ag = under("dist.agg.")
    if ag:
        grouped = under("dist.agg.build_grouped_sketches")
        rounds = [w for v in run.iterations for w in v["round_walls"]]
        out.update({
            "dist.agg.partial_s": run_s([st for st in ag if st.input_bytes]),
            "dist.agg.merge_rounds": med(run, "merge_rounds"),
            "dist.agg.round_s": statistics.median(rounds) if rounds else None,
            "dist.agg.blob_shuffle_mb": mb(sum(st.shuffle_write for st in ag)),
            "dist.agg.salt_skew": skew(grouped),
            "dist.checkpoint.write_s": per_it(sum(
                s.wall for s in spans if s.iteration in measured
                and s.name == "dist.checkpoint.write_round")),
            "dist.checkpoint.written_mb": mb(sum(
                st.output_bytes for st in under("dist.checkpoint."))),
        })
    pr = under("dist.probe.")
    if pr:
        out["dist.probe.broadcast_mb"] = med(run, "broadcast_mb")
        out["dist.probe.stage_s"] = run_s(pr)
    return out


def traced(args, cores: int) -> tuple[Run, dict, dict]:
    """(traced run, per-layer metrics, extra report fields)."""
    import shutil

    from perfbench import trace

    half = max(1.0, args.seconds / 2)
    plain = session_run(args, half, cores, 1)
    extra = {"untraced_job_s": med(plain, "job_s") if plain.iterations
             else None}
    runs = [plain]
    if args.workload == "ngram_filter" and cores > 1 and plain.iterations:
        one = session_run(args, 0, 1, 1, warmups=1, min_iterations=1)
        runs.append(one)
        if one.iterations:
            extra["scaling.speedup"] = (
                (med(one, "build_s") + med(one, "probe_s"))
                / (med(plain, "build_s") + med(plain, "probe_s")))
    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    run = session_run(args, half, cores, 1, event_log=log_dir, replay=True)
    run.calls += sum(r.calls for r in runs)
    run.failed_calls += sum(r.failed_calls for r in runs)
    run.checks += [c for r in runs for c in r.checks]
    span_file = os.path.join(WORK, "spans",
                             f"{args.workload}-seed{args.seed}.jsonl")
    run.tracer.write(span_file)
    extra["span_file"] = os.path.relpath(span_file, ROOT)
    metrics = dict(run.replay)
    if run.iterations:
        stages, jobs = trace.read_event_log(log_dir)
        metrics.update(layer_metrics(run, stages, jobs))
        if extra["untraced_job_s"] is not None:
            metrics["trace.overhead_s"] = (med(run, "job_s")
                                           - extra["untraced_job_s"])
    if "scaling.speedup" in extra:
        metrics["scaling.speedup"] = extra.pop("scaling.speedup")
    return run, metrics, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOAD_METRICS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import qfilter_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    from perfbench import host

    host.prepare_env(ROOT, WORK)
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = host.nproc()
    try:
        with host.HostWatch() as watch:
            if args.trace:
                run, layer, extra = traced(args, cores)
            else:
                run, layer, extra = session_run(args, args.seconds, cores,
                                                SETUP_REPS), {}, {}
    finally:
        host.stop_descendants()
    failed = run.failed_calls + len(run.failed_checks)
    attempted = max(1, run.calls + len(run.checks))
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "cores": cores, "iterations": len(run.iterations),
        "host": watch.report(),
        "checks": sorted({name for _, name, _ in run.checks}),
        "failed_checks": [f"iteration {it}: {name}"
                          for it, name, _ in run.failed_checks],
        "setup": {"session_s": run.session_s, "reps_s": run.setup_reps,
                  "warmup_s": run.warmup_s},
        "job_s_per_iteration": [v["job_s"] for v in run.iterations],
        **extra,
    }
    if run.iterations and run.workload is not None:
        e2e = end_to_end(run, watch, args.workload)
        ups = [x for v in run.iterations for x in v.get("update_s", [])]
        if ups:
            _, pct = tail(ups)
            report["update_tail"] = {"percentile": pct, "samples": len(ups)}
        report.update(run.workload.report())
        units = {**END_TO_END, **REPORT_UNITS, **PER_LAYER}
        report["metrics"] = {k: {"value": v, "unit": units[k]}
                             for k, v in {**e2e, **layer}.items()
                             if v is not None}
        wanted = PER_LAYER if args.trace else END_TO_END
        source = layer if args.trace else e2e
        metrics = {k: {"value": source[k], "unit": u}
                   for k, u in wanted.items() if source.get(k) is not None}
    else:
        metrics = {}
        failed = max(failed, 1)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
