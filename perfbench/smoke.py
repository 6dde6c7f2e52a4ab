#!/usr/bin/env python3
"""The benchmark's own test: every workload end to end at a tiny size.

    python3 perfbench/smoke.py

Runs each workload untraced and traced at ``--size smoke`` and checks that
the run succeeds, that the result line has exactly the contract's keys, that
every metric the run must emit is there with its unit, and that
``BENCHMARK.json`` (when present at the checkout root) declares the same
metrics with the same units as ``run.py`` emits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

#: report metrics of the layers each workload exercises
LAYER_REPORT = {
    "ngram_filter": ["dist.sharded.", "scaling.speedup"],
    "ingest_retract": ["dist.sharded."],
    "source_stats": ["dist.agg.", "dist.probe.", "dist.checkpoint."],
}


def expected_report(workload: str, traced: bool) -> set[str]:
    names = set(run.END_TO_END) | {"job_s", "tokens_per_s", "error_rate",
                                   "peak_rss_mb"} | set(
        run.WORKLOAD_METRICS[workload])
    if traced:
        names |= set(run.PER_LAYER)
        names |= {m for m in run.REPORT_UNITS
                  if m.startswith(tuple(LAYER_REPORT[workload]))}
    return names


def check_benchmark_json() -> None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        bench = json.load(f)
    for key, ours in (("end_to_end", run.END_TO_END),
                      ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert declared == ours, (key, declared, ours)
    assert {w["name"] for w in bench["workloads"]} <= set(
        run.WORKLOAD_METRICS), bench["workloads"]


def smoke(workload: str, traced: bool) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "2", "--trace",
           str(int(traced)), "--size", "smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, (cmd, out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 1
    wanted = run.PER_LAYER if traced else run.END_TO_END
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted, (workload, traced, set(wanted) ^ set(got))
    report = json.loads(lines[-2])["report"]
    missing = expected_report(workload, traced) - set(report["metrics"])
    # a tail percentile needs more than ten update samples: a smoke run
    # has fewer, and reports the sample count instead
    if workload == "ingest_retract":
        assert report["update_tail"]["samples"] >= 1
        missing.discard("update_tail_s")
    assert not missing, (workload, traced, missing)
    units = {**run.END_TO_END, **run.REPORT_UNITS, **run.PER_LAYER}
    for name, m in report["metrics"].items():
        assert m["unit"] == units[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
    if traced:
        assert os.path.exists(os.path.join(ROOT, report["span_file"]))
    print(f"ok {workload} trace={int(traced)}", flush=True)


def main() -> int:
    check_benchmark_json()
    for workload in run.WORKLOAD_METRICS:
        for traced in (False, True):
            smoke(workload, traced)
    return 0


if __name__ == "__main__":
    sys.exit(main())
