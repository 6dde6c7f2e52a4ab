"""Single-node, single-core throughput: the COMPILED reference vs our
vectorized kernels, same workload, both taskset-pinned to one idle core.

The round-1..4 BASELINE gap was that the reference publishes no absolute
numbers (benches/benches.rs has no recorded results), so "matches-or-beats
its single-node throughput" could only be argued from kernel
microbenchmarks. With the toolchain present, this script produces the
direct head-to-head: the reference Filter driven in-process by the
harness's `bench` command (per-item insert_fingerprint/contains_fingerprint
over its bit-packed blocks — its native shape), and qfilter_spark's
Filter driven through insert_hashes/contains_hashes (vectorized numpy over
the canonical sorted-fingerprint form — OUR native shape, the one every
distributed stage uses). Same n, same load factor, same fp_rate; best-of-k
per phase to shed steal.

Also timed for ours: to_bytes(fmt="blocks") — the conversion to the
reference's physical at-rest layout — so the comparison can be read either
as "logical filter ready" or "reference-format blob ready".

Output: one JSON line; record under BENCH/ per round.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent / "live_reference"))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build_harness  # noqa: E402

from qfilter_spark.rsqf import Filter  # noqa: E402


def idlest_cpu(sample_secs: float = 0.3) -> int:
    return idlest_cpus(1, sample_secs)[0]


def bench_reference(binary, cpu: int, cap: int, fp_rate: float, n: int,
                    reps: int) -> dict:
    best = None
    for rep in range(reps):
        p = subprocess.Popen(
            ["taskset", "-c", str(cpu), str(binary)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        out, _ = p.communicate(f"bench {cap} {fp_rate} {n} {41 + rep}\nquit\n")
        ins, q_hit, q_miss, _found = out.split()[1:5]
        r = {"insert_secs": float(ins), "query_hit_secs": float(q_hit),
             "query_miss_secs": float(q_miss)}
        if best is None:
            best = r
        else:
            best = {k: min(best[k], r[k]) for k in r}
    return best


def bench_ours(cpu: int, cap: int, fp_rate: float, n: int, reps: int) -> dict:
    os.sched_setaffinity(0, {cpu})
    best = None
    try:
        for rep in range(reps):
            rng = np.random.default_rng(41 + rep)
            present = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
            absent = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
            f = Filter.new(cap, fp_rate)
            t0 = time.perf_counter()
            f.insert_hashes(present)
            insert_secs = time.perf_counter() - t0
            t1 = time.perf_counter()
            hits = int(f.contains_hashes(present).sum())
            query_hit_secs = time.perf_counter() - t1
            t2 = time.perf_counter()
            f.contains_hashes(absent)
            query_miss_secs = time.perf_counter() - t2
            t3 = time.perf_counter()
            blob = f.to_bytes(fmt="blocks")
            blocks_encode_secs = time.perf_counter() - t3
            assert hits == n
            r = {"insert_secs": insert_secs,
                 "query_hit_secs": query_hit_secs,
                 "query_miss_secs": query_miss_secs,
                 "blocks_encode_secs": blocks_encode_secs,
                 "blocks_bytes": len(blob)}
            if best is None:
                best = r
            else:
                best = {k: min(best[k], r[k]) for k in r}
    finally:
        os.sched_setaffinity(0, range(os.cpu_count()))
    return best


_WORKER_SRC = """
import os, sys, time
import numpy as np
os.sched_setaffinity(0, {{int(sys.argv[1])}})
sys.path.insert(0, {repo!r})
from qfilter_spark.rsqf import Filter
n, cap, fp_rate, seed = (int(sys.argv[2]), int(sys.argv[3]),
                         float(sys.argv[4]), int(sys.argv[5]))
rng = np.random.default_rng(seed)
hashes = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
f = Filter.new(cap, fp_rate)
t0 = time.perf_counter()
f.insert_hashes(hashes)
ins = time.perf_counter() - t0
t1 = time.perf_counter()
hits = int(f.contains_hashes(hashes).sum())
q = time.perf_counter() - t1
assert hits == n
print(ins, q)
"""


def bench_ours_sharded(cpus: list[int], cap: int, fp_rate: float, n: int,
                       reps: int) -> dict:
    """P pinned workers, each building+probing its own shard of n/P hashes —
    the engine's native per-partition execution model on one node (the
    merge cost is measured separately by the distributed benches)."""
    repo = str(Path(__file__).resolve().parent.parent)
    per = n // len(cpus)
    best = None
    for rep in range(reps):
        procs = [subprocess.Popen(
            [sys.executable, "-c", _WORKER_SRC.format(repo=repo),
             str(c), str(per), str(cap), str(fp_rate), str(100 + rep * 31 + i)],
            stdout=subprocess.PIPE, text=True)
            for i, c in enumerate(cpus)]
        ins, q = 0.0, 0.0
        for p in procs:
            out, _ = p.communicate()
            a, b = map(float, out.split())
            # wall = slowest shard
            ins, q = max(ins, a), max(q, b)
        r = {"insert_secs": ins, "query_hit_secs": q}
        best = r if best is None else {k: min(best[k], r[k]) for k in r}
    return {**best, "n_workers": len(cpus), "n_per_worker": per}


def idlest_cpus(k: int, sample_secs: float = 0.3) -> list[int]:
    def snap():
        out = {}
        for line in open("/proc/stat"):
            if line.startswith("cpu") and line[3].isdigit():
                f = line.split()
                out[int(f[0][3:])] = sum(map(int, f[1:9])) - int(f[4])
        return out
    a = snap()
    time.sleep(sample_secs)
    b = snap()
    return sorted(b, key=lambda c: b[c] - a[c])[:k]


def main():
    cap = int(os.environ.get("QFS_REFBENCH_CAP", str(1 << 21)))
    n = int(os.environ.get("QFS_REFBENCH_N", str(int((1 << 21) * 0.9))))
    fp_rate = float(os.environ.get("QFS_REFBENCH_FP", "0.01"))
    reps = int(os.environ.get("QFS_REFBENCH_REPS", "5"))
    n_workers = int(os.environ.get("QFS_REFBENCH_WORKERS", "8"))
    binary = build_harness.ensure_harness()
    cpu = idlest_cpu()
    ref = bench_reference(binary, cpu, cap, fp_rate, n, reps)
    ours = bench_ours(cpu, cap, fp_rate, n, reps)
    sharded = bench_ours_sharded(idlest_cpus(n_workers), cap, fp_rate,
                                 n * n_workers, reps)

    def mps(secs):
        return round(n / secs / 1e6, 2)

    result = {
        "what": "single-core head-to-head vs the COMPILED reference crate, "
                "same workload (best-of-%d per phase, taskset-pinned)" % reps,
        "cap": cap, "n": n, "fp_rate": fp_rate, "cpu": cpu,
        "reference": {**ref,
                      "insert_mps": mps(ref["insert_secs"]),
                      "query_hit_mps": mps(ref["query_hit_secs"]),
                      "query_miss_mps": mps(ref["query_miss_secs"])},
        "ours": {**ours,
                 "insert_mps": mps(ours["insert_secs"]),
                 "query_hit_mps": mps(ours["query_hit_secs"]),
                 "query_miss_mps": mps(ours["query_miss_secs"]),
                 "insert_plus_blocks_mps": mps(
                     ours["insert_secs"] + ours["blocks_encode_secs"])},
        "speedup_ours_vs_ref": {  # ref_secs / ours_secs: >1 means ours is faster
            "insert": round(ref["insert_secs"] / ours["insert_secs"], 3),
            "query_hit": round(
                ref["query_hit_secs"] / ours["query_hit_secs"], 3),
            "query_miss": round(
                ref["query_miss_secs"] / ours["query_miss_secs"], 3),
        },
        "ours_sharded_node": {
            **sharded,
            "aggregate_insert_mps": round(
                sharded["n_workers"] * sharded["n_per_worker"]
                / sharded["insert_secs"] / 1e6, 2),
            "aggregate_query_hit_mps": round(
                sharded["n_workers"] * sharded["n_per_worker"]
                / sharded["query_hit_secs"] / 1e6, 2),
            "note": "P pinned shard builders — the engine's native "
                    "per-partition model on one node; the reference "
                    "library is single-threaded (&mut inserts), so its "
                    "single-core number IS its node number unless a user "
                    "hand-builds equivalent sharding",
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
