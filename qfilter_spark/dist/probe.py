"""Probing a built sketch from a DataFrame column.

The final sketch blob is broadcast once per job (SURVEY.md §3.2: "broadcast
final sketch; probe via searchsorted"); each task decodes it once and probes
whole Arrow batches vectorized. Analogous to Spark's own
``might_contain(bloom, col)`` but for every sketch kind here.
"""

from __future__ import annotations

import numpy as np

from ..hashing import u64_hashes_from_arrow
from .sizing import sized_input

#: per-worker sketch cache: PySpark reuses python worker processes across
#: tasks, and a broadcast's .value object is stable per process — caching the
#: decoded sketch by its identity makes decode + probe-index build once per
#: WORKER instead of once per task. Values hold a strong ref to the blob, so
#: the id() key cannot be reused while the entry lives. FIFO bounded BOTH by
#: entry count and by approximate resident bytes: with worker reuse on
#: (spark.python.worker.reuse default), unbounded pinned blobs would hold
#: GBs per node across a pipeline that probes several large sketches
#: (round-5 code-review finding). A single over-budget sketch still caches
#: (cache of one) — the per-task decode it saves is the whole point. A
#: broadcast sharded table is ONE entry (all its rows, decoded together).
_SKETCH_CACHE: dict = {}
_SKETCH_CACHE_MAX = 4
_SKETCH_CACHE_MAX_BYTES = 192 << 20


def _approx_resident_bytes(blob, sk) -> int:
    """Blob + every numpy array on the decoded sketch (one nested level, for
    wrappers like RsqfSketch->Filter) + headroom for the probe bitmap an RSQF
    may build LATER while cached: one bit per point of its fingerprint
    domain, counted only when the filter's own gate would build it."""
    def attrs(obj):
        names = list(getattr(type(obj), "__slots__", ()) or ())
        names += list(getattr(obj, "__dict__", ()) or ())
        return [getattr(obj, nm, None) for nm in names]

    total = len(blob)
    for v in attrs(sk):
        if isinstance(v, np.ndarray):
            total += v.nbytes
        elif v is not None and not isinstance(v, (int, float, str, bytes, bool)):
            for w in attrs(v):
                if isinstance(w, np.ndarray):
                    total += w.nbytes
    for obj in (sk, *attrs(sk)):
        fps = getattr(obj, "_fps", None)
        if isinstance(fps, np.ndarray) and hasattr(obj, "fingerprint_size"):
            fs = obj.fingerprint_size()
            bitmap = (1 << fs) >> 3 if fs <= 32 else 0
            gate = getattr(type(obj), "_BITMAP_MAX_BYTES", 0)
            if bitmap <= min(gate, 8 * max(fps.nbytes, 1 << 20)):
                total += bitmap
    return total


def _decode_sketch(blob):
    """The decoded sketch of ``blob`` and its approximate resident bytes."""
    from .. import sketches

    sk = sketches.loads(blob)
    return sk, _approx_resident_bytes(blob, sk)


def _load_cached(blob, decode=_decode_sketch):
    """``decode(blob)``'s object, decoded once per worker while cached.

    ``decode`` returns (object, approximate resident bytes); the default
    decodes one sketch blob."""
    key = id(blob)
    hit = _SKETCH_CACHE.get(key)
    if hit is not None and hit[0] is blob:
        return hit[1]
    sk, cost = decode(blob)
    held = sum(e[2] for e in _SKETCH_CACHE.values())
    while _SKETCH_CACHE and (len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX
                             or held + cost > _SKETCH_CACHE_MAX_BYTES):
        _, _, freed = _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        held -= freed
    _SKETCH_CACHE[key] = (blob, sk, cost)
    return sk


def probe_hashes(df, blob: bytes, hash_col: str, out_col: str = "est_count",
                 as_bool: bool = False):
    """Append ``out_col`` = sketch count/membership of ``hash_col`` (int64).

    Works for rsqf (count), bloom (membership), cms (count estimate).
    """
    import pyarrow as pa

    from .. import sketches

    if hash_col not in df.columns:
        raise ValueError(f"hash_col {hash_col!r} not in {df.columns}")
    # fail on the DRIVER for a blob this job could never probe (bad header,
    # or a values-mode sketch like kll/tdigest with no hash probe surface)
    # — not once per executor task deep in mapInArrow. Header-only sniff:
    # decoding a multi-GB at-rest RSQF blob here would duplicate per-task
    # work on the driver just to check a capability.
    kind = sketches.kind_of(blob)
    if kind not in sketches.HASH_PROBE_KINDS:
        name = next((n for n, k in sketches.KIND_NAMES.items() if k == kind),
                    str(kind))
        raise TypeError(f"sketch kind {name!r} has no "
                        "hash-probe surface (contains/count/estimate)")

    sc = df.sparkSession.sparkContext
    b = sc.broadcast(blob)
    out_type = "boolean" if as_bool else "long"
    schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}, {out_col} {out_type}"

    def run(batches):
        sk = _load_cached(b.value)
        for batch in batches:
            h = u64_hashes_from_arrow(batch.column(hash_col),
                                      f"probe_hashes ({hash_col!r})")
            if as_bool:
                if hasattr(sk, "contains_hashes"):
                    vals = sk.contains_hashes(h)
                else:
                    vals = sk.estimate_hashes(h) > 0
                col = pa.array(np.asarray(vals, dtype=bool))
            else:
                if hasattr(sk, "count_hashes"):
                    vals = sk.count_hashes(h)
                elif hasattr(sk, "estimate_hashes"):
                    vals = sk.estimate_hashes(h)
                else:
                    vals = sk.contains_hashes(h).astype(np.int64)
                col = pa.array(np.asarray(vals, dtype=np.int64))
            arrays = [batch.column(i) for i in range(batch.num_columns)] + [col]
            yield pa.record_batch(arrays, names=list(batch.schema.names) + [out_col])

    return sized_input(df).mapInArrow(run, schema)
