"""10x-scale stress of the two heaviest dedup pipelines (VERDICT-r3 #2).

Runs dedup_minhash and dedup_ngram_jaccard over an N-doc synthetic corpus
(default 200k docs, 10x the sf0.1 bench corpus) on local[$SPARK_GRAFT_CPUS],
converting the 100 TB spill story — bucketed intermediates, bounded Arrow
buffers, no pair materialization — from asserted-by-plan-audit to observed:
the pipelines must COMPLETE, with peak process-tree RSS recorded alongside
wall times (a memory blowup would show as RSS tracking the corpus-pair
count instead of the bounded intermediates).

Text is synthesized JVM-side from the token arrays (concat_ws over int
tokens), so shingle statistics inherit the corpus's zipf token skew — hot
shingles far above max_df exist, exercising the rare/hot split for real.

Usage: python scripts/dedup_stress.py [n_docs] [> BENCH/run_rN_dedup_stress.json]
"""
from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# executors do NOT inherit the driver's sys.path — the repo must be on
# PYTHONPATH (appended, not setdefault: a pre-set value would otherwise
# silently drop the repo and kill workers with ModuleNotFoundError)
_pp = os.environ.get("PYTHONPATH", "")
if REPO not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{REPO}{os.pathsep}{_pp}" if _pp else REPO


def _tree_rss_kb() -> int:
    """Total VmRSS of this process and every descendant (JVM, workers)."""
    me = os.getpid()
    ppid, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                kv = dict(line.split(":", 1) for line in f if ":" in line)
            ppid[int(d)] = int(kv.get("PPid", "0").strip() or 0)
            rss[int(d)] = int(kv.get("VmRSS", "0 kB").split()[0] or 0)
        except (OSError, ValueError):
            continue
    total = 0
    for pid in rss:
        p = pid
        while p > 1:
            if p == me:
                total += rss[pid]
                break
            p = ppid.get(p, 0)
    return total


class PeakRss(threading.Thread):
    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.interval = interval
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb())
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak_kb


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import bench
    from pyspark.sql import functions as F

    corpus_path = bench.ensure_corpus(n_docs)
    spark = bench.make_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from qfilter_spark.functions import dedup

    # the corpus is identity-partitioned by source with a 49% hot source;
    # rebalance before the per-row-heavy kernels (same reason the gate
    # queries wrap their input in workloads.fan_out)
    docs = (spark.read.parquet(corpus_path)
            .repartition(4 * cpus)
            .select("doc_id",
                    F.concat_ws(" ", F.transform(
                        "tokens", lambda t: t.cast("string"))).alias("text")))
    stats = docs.agg(F.count("*"), F.sum(F.size(F.split("text", " ")))).collect()[0]
    out = {"n_docs": int(stats[0]), "total_tokens": int(stats[1]),
           "cores": cpus}

    # warm the python worker pool outside the timed regions
    dedup.minhash_dedup_pairs(docs.limit(512)).count()

    sampler = PeakRss()
    sampler.start()
    t0 = time.perf_counter()
    out["minhash_pairs"] = dedup.minhash_dedup_pairs(docs).count()
    out["minhash_secs"] = round(time.perf_counter() - t0, 1)
    out["minhash_peak_rss_gb"] = round(sampler.stop() / 1024 / 1024, 2)
    print(f"minhash: {out['minhash_secs']}s, {out['minhash_pairs']} pairs, "
          f"peak {out['minhash_peak_rss_gb']} GB", file=sys.stderr)

    sampler = PeakRss()
    sampler.start()
    t1 = time.perf_counter()
    out["ngram_pairs"] = dedup.ngram_jaccard_pairs(docs).count()
    out["ngram_cold_secs"] = round(time.perf_counter() - t1, 1)
    t2 = time.perf_counter()
    out["ngram_pairs_repeat"] = dedup.ngram_jaccard_pairs(docs).count()
    out["ngram_repeat_secs"] = round(time.perf_counter() - t2, 1)
    out["ngram_peak_rss_gb"] = round(sampler.stop() / 1024 / 1024, 2)
    print(f"ngram: cold {out['ngram_cold_secs']}s repeat {out['ngram_repeat_secs']}s, "
          f"{out['ngram_pairs']} pairs, peak {out['ngram_peak_rss_gb']} GB",
          file=sys.stderr)

    assert out["ngram_pairs"] == out["ngram_pairs_repeat"], \
        "a repeated call changed results"
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
