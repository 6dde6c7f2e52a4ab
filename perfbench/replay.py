"""Kernel replay: per-layer costs of the layers that run inside Python
workers, where the Spark event log cannot see them.

The benchmark calls each layer's public functions in its own process on a
fixed sample of the workload's own inputs: the first corpus rows as Arrow
data, and shard payloads read back from the table the workload wrote. Each
timing is the median of a few repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 5

#: sketch kinds and parameters, as the workloads build them
SKETCH_PARAMS = {
    "hll": {"p": 14},
    "cms": {"eps": 0.001, "delta": 0.01},
    "kll": {"k": 200},
    "tdigest": {"compression": 200.0},
}
VALUE_KINDS = {"kll", "tdigest"}


def _timed(fn, reps: int = REPS) -> float:
    """Median wall seconds of ``fn()`` over ``reps`` calls."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def replay(tokens, n_tok: np.ndarray, payloads: list[bytes]) -> dict:
    """Per-layer kernel metrics.

    ``tokens`` is an Arrow list<int32> column of sample documents, ``n_tok``
    their lengths, and ``payloads`` shard blobs of a written filter table
    (empty when the workload writes none: the filter built from the sample
    stands in for them).
    """
    from qfilter_spark import sketches
    from qfilter_spark.functions.ngrams import flat_from_arrow, ngram_hashes
    from qfilter_spark.rsqf import Filter

    out: dict[str, float] = {}
    flat, offsets = flat_from_arrow(tokens)
    h = ngram_hashes(flat, offsets, 3)
    n = int(h.size)
    out["ngrams.ngrams"] = n
    out["ngrams.ns_per_ngram"] = _timed(
        lambda: ngram_hashes(flat, offsets, 3)) / n * 1e9

    # rsqf: bulk insert, probe (bitmap build separated from the probe by
    # timing a fresh filter's first probe against its second), count, remove
    cap = int(n * 1.05) + 64

    def fresh() -> Filter:
        f = Filter.new(cap, 0.01)
        f.insert_hashes(h)
        return f

    out["rsqf.insert_ns_per_key"] = _timed(fresh) / n * 1e9
    firsts, seconds = [], []
    for _ in range(REPS):
        f = fresh()
        t0 = time.perf_counter()
        f.contains_hashes(h)
        t1 = time.perf_counter()
        f.contains_hashes(h)
        firsts.append(t1 - t0)
        seconds.append(time.perf_counter() - t1)
    out["rsqf.contains_ns_per_key"] = statistics.median(seconds) / n * 1e9
    out["rsqf.bitmap_build_s"] = (statistics.median(firsts)
                                  - statistics.median(seconds))
    f = fresh()
    out["rsqf.count_ns_per_key"] = _timed(lambda: f.count_hashes(h)) / n * 1e9
    fps = f.fingerprints()
    out["rsqf.remove_ns_per_key"] = _timed(
        lambda: Filter(f.qbits, f.rbits, None, fps.copy()).remove_hashes(h)
    ) / n * 1e9

    # blocks: decode and re-encode at-rest shard blobs
    blobs = payloads or [sketches.RsqfSketch(f).to_blocks_bytes()]
    decoded = [sketches.loads(b) for b in blobs]
    keys = sum(len(sk.filter) for sk in decoded) or 1
    out["blocks.decode_ns_per_key"] = _timed(
        lambda: [sketches.loads(b) for b in blobs]) / keys * 1e9
    out["blocks.encode_ns_per_key"] = _timed(
        lambda: [sk.to_blocks_bytes() for sk in decoded]) / keys * 1e9
    out["blocks.bytes_per_key"] = sum(len(b) for b in blobs) / keys

    values = np.asarray(n_tok, dtype=np.float64)
    for kind, params in SKETCH_PARAMS.items():
        data = values if kind in VALUE_KINDS else h

        def build(part, kind=kind, params=params):
            sk = sketches.create(kind, **params)
            if kind in VALUE_KINDS:
                sk.update_values(part)
            else:
                sk.update_hashes(part)
            return sk

        half = data.size // 2
        out[f"sketches.{kind}.update_ns_per_item"] = _timed(
            lambda: build(data).to_bytes()) / data.size * 1e9

        def merge(half=half, data=data, build=build):
            a, b = build(data[:half]), build(data[half:])
            t0 = time.perf_counter()
            a.merge(b)
            a.to_bytes()
            return time.perf_counter() - t0

        out[f"sketches.{kind}.merge_ms"] = statistics.median(
            merge() for _ in range(REPS)) * 1e3
        out[f"sketches.{kind}.blob_kb"] = len(build(data).to_bytes()) / 1024
    return out
