"""Probing a built sketch, or a small sharded filter table, per row.

The probe target is broadcast once per job (SURVEY.md §3.2: "broadcast
final sketch; probe via searchsorted") as one ``(directory, rows)`` value:
a sketch blob is the one-row table ``(None, [(0, blob)])``, a sharded table
its (row key, payload) rows and their ``ShardDirectory``. Each worker
decodes it once into a :class:`_Table`, and one map (:func:`_probe_rows`)
answers whole Arrow batches vectorized: each hash asks the sketch of the
row that owns it, through the sketch's own ``contains_hashes`` /
``count_hashes`` / ``estimate_hashes``. Analogous to Spark's own
``might_contain(bloom, col)`` but for every sketch kind here.
"""

from __future__ import annotations

import numpy as np

from ..hashing import u64_hashes_from_arrow
from .sizing import sized_input

#: per-worker cache of decoded probe targets: PySpark reuses python worker
#: processes across tasks, and a broadcast's .value object is stable per
#: process, so caching the decoded :class:`_Table` by its identity decodes
#: once per WORKER, not per task. Entries hold a strong ref to the value, so
#: the id() key cannot be reused while they live. FIFO bounded by entry
#: count AND approximate resident bytes: with worker reuse on, unbounded
#: pinned tables would hold GBs per node across a pipeline that probes
#: several large sketches. One over-budget table still caches (cache of
#: one) — the per-task decode it saves is the whole point.
_SKETCH_CACHE: dict = {}
_SKETCH_CACHE_MAX = 4
_SKETCH_CACHE_MAX_BYTES = 192 << 20


def _resident_bytes(sk) -> int:
    """Every numpy array on a decoded sketch and on its attributes (for
    wrappers like RsqfSketch->Filter), plus the probe bitmap a filter may
    build LATER while cached, as the filter's own gate sizes it."""
    def attrs(obj):
        names = [*(getattr(type(obj), "__slots__", ()) or ()),
                 *getattr(obj, "__dict__", ())]
        return [getattr(obj, nm, None) for nm in names]

    objs = (sk, *attrs(sk))
    return (sum(v.nbytes for o in objs for v in attrs(o)
                if isinstance(v, np.ndarray))
            + sum(o._bitmap_nbytes() for o in objs
                  if hasattr(o, "_bitmap_nbytes")))


def _ask(sk, h: np.ndarray, as_bool: bool) -> np.ndarray:
    """One sketch's own kernel for uint64 hashes ``h``: membership (bool)
    or a count estimate (int64), whichever surface the kind has."""
    if as_bool and hasattr(sk, "contains_hashes"):
        return np.asarray(sk.contains_hashes(h), dtype=bool)
    count = getattr(sk, "count_hashes", None) or getattr(
        sk, "estimate_hashes", None)
    if count is None:
        return sk.contains_hashes(h).astype(np.int64)
    est = np.asarray(count(h), dtype=np.int64)
    return est > 0 if as_bool else est


class _Table:
    """The decoded rows of one probe target, decoded once per worker.

    ``rows`` are (row key, payload) pairs of a sharded filter table routed
    by ``directory`` (a ``sharded.ShardDirectory``); a single sketch blob
    is the one-row table ``_Table(None, [(0, blob)])``. ``nbytes`` is the
    approximate resident size the per-worker cache budgets.
    """

    def __init__(self, directory, rows):
        from .. import sketches

        self.directory = directory
        self.sketches = {}
        self.nbytes = 0
        for key, payload in rows:
            sk = self.sketches[key] = sketches.loads(payload)
            self.nbytes += len(payload) + _resident_bytes(sk)

    def answer(self, h: np.ndarray, as_bool: bool) -> np.ndarray:
        """Per-hash membership (``as_bool``) or count estimate of uint64
        hashes ``h``: each hash asks the sketch of the row that owns it, in
        shard-local coordinates. A hash whose range has no row in the
        table answers False / 0."""
        d = self.directory
        if d is None:
            return _ask(self.sketches[0], h, as_bool)
        out = np.zeros(h.size, dtype=bool if as_bool else np.int64)
        rows = d.row_of(h)
        order = np.argsort(rows, kind="stable")  # one slice per row
        for idx in np.split(order, np.flatnonzero(np.diff(rows[order])) + 1):
            sk = self.sketches.get(int(rows[idx[0]])) if idx.size else None
            if sk is not None:
                out[idx] = _ask(sk, h[idx] & d.local_mask, as_bool)
        return out


def _load_cached(value) -> _Table:
    """``_Table(*value)`` for a broadcast ``(directory, rows)`` value,
    decoded once per worker while cached."""
    key = id(value)
    hit = _SKETCH_CACHE.get(key)
    if hit is not None and hit[0] is value:
        return hit[1]
    table = _Table(*value)
    held = sum(e[2] for e in _SKETCH_CACHE.values())
    while _SKETCH_CACHE and (len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX
                             or held + table.nbytes > _SKETCH_CACHE_MAX_BYTES):
        _, _, freed = _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        held -= freed
    _SKETCH_CACHE[key] = (value, table, table.nbytes)
    return table


def _probe_rows(df, hash_col: str, out_col: str, as_bool: bool, b,
                context: str):
    """The one probe map: ``df`` with ``out_col`` appended, each row's
    answer from the broadcast ``(directory, rows)`` value ``b``
    (:meth:`_Table.answer`). NULL hashes are refused with ``context``."""
    import pyarrow as pa

    out_type = "boolean" if as_bool else "long"
    schema = ", ".join([f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields] + [f"{out_col} {out_type}"])

    def run(batches):
        table = _load_cached(b.value)
        for batch in batches:
            h = u64_hashes_from_arrow(batch.column(hash_col), context)
            yield pa.record_batch(
                batch.columns + [pa.array(table.answer(h, as_bool))],
                names=batch.schema.names + [out_col])

    return sized_input(df).mapInArrow(run, schema)


def probe_hashes(df, blob: bytes, hash_col: str, out_col: str = "est_count",
                 as_bool: bool = False):
    """Append ``out_col`` = sketch count/membership of ``hash_col`` (int64).

    Works for rsqf (count), bloom (membership), cms (count estimate).
    """
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

    b = df.sparkSession.sparkContext.broadcast((None, [(0, blob)]))
    return _probe_rows(df, hash_col, out_col, as_bool, b,
                       f"probe_hashes ({hash_col!r})")
