"""Probing a built sketch, or a small sharded filter table, per row.

The probe target is broadcast once per job (SURVEY.md §3.2: "broadcast
final sketch; probe via searchsorted") as one :class:`_Table`: a sketch
blob is the one-row table ``_Table(None, [(0, blob)])``, a sharded table
its (row key, payload) rows and their ``ShardDirectory``. One map
(:func:`_probe_rows`) answers whole Arrow batches vectorized: each hash
asks the sketch of the row that owns it, through the sketch's own
``contains_hashes`` / ``count_hashes`` / ``estimate_hashes``. Analogous to
Spark's own ``might_contain(bloom, col)`` but for every sketch kind here.

A reused Python worker hands every task of a job the same unpickled
broadcast value, so a row decoded on the table object stays decoded for
the worker's later tasks, and is freed when PySpark drops the broadcast
(before a task that does not use it).
"""

from __future__ import annotations

import numpy as np

from ..hashing import u64_hashes_from_arrow
from .sizing import sized_input


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
    """One probe target: the (row key, payload) ``rows`` of a sharded
    filter table routed by ``directory`` (a ``sharded.ShardDirectory``);
    a single sketch blob is the one-row table ``_Table(None, [(0, blob)])``.

    It pickles as ``(directory, rows)`` only. A row is decoded the first
    time :meth:`sketch` asks for it and kept on the object, so a row
    nothing asks for is never decoded.
    """

    def __init__(self, directory, rows):
        self.directory = directory
        self.rows = dict(rows)
        self._sketches = {}

    def __reduce__(self):
        return _Table, (self.directory, self.rows)

    def sketch(self, key):
        """The decoded sketch of row ``key``; None when the table has no
        such row."""
        sk = self._sketches.get(key)
        if sk is None and key in self.rows:
            from .. import sketches

            sk = self._sketches[key] = sketches.loads(self.rows[key])
        return sk

    def answer(self, h: np.ndarray, as_bool: bool) -> np.ndarray:
        """Per-hash membership (``as_bool``) or count estimate of uint64
        hashes ``h``: each hash asks the sketch of the row that owns it, in
        shard-local coordinates. A hash whose range has no row in the
        table answers False / 0."""
        d = self.directory
        if d is None:
            return _ask(self.sketch(0), h, as_bool)
        out = np.zeros(h.size, dtype=bool if as_bool else np.int64)
        rows = d.row_of(h)
        order = np.argsort(rows, kind="stable")  # one slice per row
        for idx in np.split(order, np.flatnonzero(np.diff(rows[order])) + 1):
            sk = self.sketch(int(rows[idx[0]])) if idx.size else None
            if sk is not None:
                out[idx] = _ask(sk, h[idx] & d.local_mask, as_bool)
        return out


def _probe_rows(df, hash_col: str, out_col: str, as_bool: bool, b,
                context: str):
    """The one probe map: ``df`` with ``out_col`` appended, each row's
    answer from the broadcast :class:`_Table` ``b``
    (:meth:`_Table.answer`). NULL hashes are refused with ``context``."""
    import pyarrow as pa

    out_type = "boolean" if as_bool else "long"
    schema = ", ".join([f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields] + [f"{out_col} {out_type}"])

    def run(batches):
        table = b.value
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

    b = df.sparkSession.sparkContext.broadcast(_Table(None, [(0, blob)]))
    return _probe_rows(df, hash_col, out_col, as_bool, b,
                       f"probe_hashes ({hash_col!r})")
