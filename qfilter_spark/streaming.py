"""Structured Streaming: incremental sketch maintenance.

The reference filter is an incrementally updatable structure (insert /
remove, src/lib.rs:1131-1214); the streaming analog here maintains a
**checkpointed sketch table** that each micro-batch folds into:

    readStream -> foreachBatch(update_sketch_table)

Per micro-batch: build partial sketches of the new rows (the same
``mapInArrow`` kernel as the batch path), merge them with the current table
generation, and write generation N+1 atomically (write into a ``.tmp-gen=*``
directory — a name the generation lister ignores — then rename; a
``gen=<k>`` directory containing ``meta.json`` IS the commit record).
Restart-safe: Spark's streaming checkpoint replays the
last uncommitted batch, and re-merging a batch into the generation it
already produced is NOT applied twice because each generation directory
records the batch id it incorporated.

This covers the north_rule's "resumable from checkpoint" requirement for
continuous ingestion; windowed/watermarked aggregations compose on top by
keying the sketch table by window start.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

from . import sketches
from .dist.agg import SketchSpec, merge_payloads, partial_sketches
from .hashing import u64_hashes_from_pandas


def _no_null_col(pdf, col: str, context: str) -> np.ndarray:
    """A pandas column as numpy, refusing NULLs.

    A NULL op value would launder through NaN to ``NaN >= 0 == False`` —
    a silent retraction; a NULL sequence number argsorts last — a silent
    reordering. Same refusal contract as the NULL-hash checks."""
    ser = pdf[col]
    na = ser.isna()
    if na.any():
        raise ValueError(
            f"{context}: {int(na.sum())} NULL values in {col!r}; "
            "filter them out upstream")
    return ser.to_numpy()


def apply_changelog(sk, h: np.ndarray, is_ins: np.ndarray,
                    n_items: int) -> int:
    """Apply one ordered changelog slice to a sketch, respecting row order
    as maximal consecutive same-op runs (vectorized per run). Returns the
    updated n_items — tracked from the sketch's ACTUAL size delta, so a
    clamped retraction of an absent key (reference remove semantics) does
    not drift the counter."""
    if h.size == 0:
        return n_items
    is_ins = np.asarray(is_ins, dtype=bool)  # any 0/1-ish dtype accepted
    cuts = np.flatnonzero(np.diff(is_ins.view(np.int8))) + 1
    for seg, seg_ins in zip(np.split(h, cuts),
                            is_ins[np.concatenate([[0], cuts])]):
        if not seg.size:
            continue
        # both directions tracked from the sketch's ACTUAL size delta:
        # set-semantics specs (keep_duplicates=False) dedup inserts, and
        # retractions of absent keys clamp — neither may drift the counter
        before = len(sk.filter)
        if seg_ins:
            sk.update_hashes(seg)
        else:
            sk.remove_hashes(seg)
        n_items += len(sk.filter) - before
    return n_items


def _sketch_len(sk, n_items: int) -> int:
    """Physical sketch size when the kind exposes one (RSQF multiset
    len), else the tracked item count (HLL/CMS/... have no len)."""
    return int(len(sk.filter) if hasattr(sk, "filter") else n_items)


def keyed_sketch_stream(stream_df, spec: SketchSpec, key_col: str,
                        hash_col: str = "h", op_col: str | None = None,
                        seq_col: str | None = None):
    """Per-key streaming sketches via ``applyInPandasWithState``.

    A custom stateful operator (the prompt's 'applyInPandasWithState for
    custom stateful operators' pattern): Spark's state store holds one
    sketch blob per key; every trigger folds the key's new rows in and
    emits (key, n_items, sketch_len). Output mode: Update.

    With ``op_col`` set, the stream is a CHANGELOG: rows with op >= 0 are
    insertions, rows with op < 0 are retractions — the reference filter's
    incremental insert/remove pair (src/lib.rs:1056-1129) as streaming
    state. Retractions require a sketch kind with ``remove_hashes``
    (RSQF). Ops apply as maximal consecutive same-op runs (vectorized per
    run) in DELIVERED order, which equals source order only while a key's
    batch rows come from one input partition — the shuffle does not order
    rows arriving from different source partitions. When intra-batch
    insert/retract pairs of the same key can span partitions, pass
    ``seq_col`` (a monotonically increasing sequence column): each batch's
    rows are then stably sorted by it before applying, restoring a total
    order. ``n_items`` tracks the sketch's ACTUAL multiset size
    (retracting an absent key is a clamped no-op, exactly as in the
    reference, and does not drift the counter).

    Returns the transformed streaming DataFrame (caller starts the query).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = stream_df.schema[key_col].dataType.simpleString()
    probe = spec.make()
    if not hasattr(probe, "update_hashes"):
        raise TypeError(
            f"sketch kind {spec.kind!r} has no update_hashes — hash-column "
            "streams need a hash-mode sketch (kll/tdigest are values-mode); "
            "failing eagerly on the driver instead of per-executor")
    if op_col is not None and not hasattr(probe, "remove_hashes"):
        raise TypeError(f"sketch kind {spec.kind!r} does not support "
                        "retraction (needs remove_hashes)")

    def fold(key, pdf_iter, state):
        if state.exists:
            blob, n_items = state.get
            sk = sketches.loads(bytes(blob))
        else:
            sk, n_items = spec.make(), 0
        hs, ops, seqs = [], [], []
        for pdf in pdf_iter:
            h = u64_hashes_from_pandas(pdf[hash_col], "keyed sketch stream")
            if h.size == 0:
                continue
            if op_col is None:
                sk.update_hashes(h)
                n_items += int(h.size)
            elif seq_col is None:
                # delivered order IS the changelog order: apply per chunk,
                # never buffering a hot key's whole micro-batch in memory
                n_items = apply_changelog(
                    sk, h,
                    _no_null_col(pdf, op_col, "keyed sketch stream") >= 0,
                    n_items)
            else:  # buffer the batch's slices so seq_col can total-order
                hs.append(h)
                ops.append(_no_null_col(pdf, op_col,
                                        "keyed sketch stream") >= 0)
                seqs.append(_no_null_col(pdf, seq_col,
                                         "keyed sketch stream"))
        if hs:
            h, op = np.concatenate(hs), np.concatenate(ops)
            order = np.argsort(np.concatenate(seqs), kind="stable")
            h, op = h[order], op[order]
            n_items = apply_changelog(sk, h, op, n_items)
        state.update((sk.to_bytes(), n_items))
        yield pd.DataFrame({key_col: [key[0]], "n_items": [n_items],
                            "sketch_len": [_sketch_len(sk, n_items)]})

    return (stream_df
            .groupBy(key_col)
            .applyInPandasWithState(
                fold,
                outputStructType=f"{key_col} {key_type}, n_items long, sketch_len long",
                stateStructType="blob binary, n_items long",
                outputMode="Update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def windowed_sketch_stream(stream_df, spec: SketchSpec, ts_col: str,
                           window_secs: int, watermark_delay: str = "10 seconds",
                           hash_col: str = "h"):
    """Event-time windowed sketches with watermark-driven finalization.

    Rows are bucketed into tumbling windows of ``window_secs``; each window's
    sketch lives in the state store (applyInPandasWithState with event-time
    timeout). While a window is open, running rows are emitted with
    ``final=false``; once the watermark passes the window end, the state
    times out and the window's sketch row is emitted with ``final=true`` —
    the standard late-data-tolerant windowed aggregation, with a sketch as
    the aggregate state.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not hasattr(spec.make(), "update_hashes"):
        raise TypeError(
            f"sketch kind {spec.kind!r} has no update_hashes — hash-column "
            "streams need a hash-mode sketch (kll/tdigest are values-mode)")

    win = (F.floor(F.unix_timestamp(F.col(ts_col)) / window_secs)
           * window_secs).cast("long").alias("win_start")
    src = (stream_df
           .withWatermark(ts_col, watermark_delay)
           .select(win, F.col(hash_col), F.col(ts_col)))

    def fold(key, pdf_iter, state):
        win_start = int(key[0])
        if state.hasTimedOut:
            blob, n_items = state.get
            sk = sketches.loads(bytes(blob))
            length = _sketch_len(sk, n_items)
            state.remove()
            yield pd.DataFrame({"win_start": [win_start], "n_items": [n_items],
                                "sketch_len": [length], "final": [True]})
            return
        if state.exists:
            blob, n_items = state.get
            sk = sketches.loads(bytes(blob))
        else:
            sk, n_items = spec.make(), 0
        for pdf in pdf_iter:
            h = u64_hashes_from_pandas(pdf[hash_col], "windowed sketch stream")
            sk.update_hashes(h)
            n_items += int(h.size)
        state.update((sk.to_bytes(), n_items))
        # finalize once the watermark passes the window end — clamped just
        # past the CURRENT eviction watermark: Spark filters late rows with
        # the PREVIOUS batch's watermark but validates timeout timestamps
        # against the current one, so a legitimately-admitted late row for
        # an already-expired window would otherwise raise
        # INVALID_TIMEOUT_TIMESTAMP and wedge the query (checkpoint replay
        # re-crashes); the clamp finalizes that window at the next trigger
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max((win_start + window_secs) * 1000,
                                      wm + 1))
        yield pd.DataFrame({"win_start": [win_start], "n_items": [n_items],
                            "sketch_len": [_sketch_len(sk, n_items)],
                            "final": [False]})

    return (src.groupBy("win_start")
            .applyInPandasWithState(
                fold,
                outputStructType="win_start long, n_items long, sketch_len long, final boolean",
                stateStructType="blob binary, n_items long",
                outputMode="Update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


class StreamingSketch:
    """A sketch folded over a stream via foreachBatch.

    State layout under ``state_dir``:
        gen=<k>/sketch.bin   merged sketch blob after batch k
        gen=<k>/meta.json    {"batch_id": ..., "n_items": ..., "ts": ...}
    """

    def __init__(self, spec: SketchSpec, state_dir: str):
        self.spec = spec
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- state I/O -----------------------------------------------------
    def _gens(self) -> list[int]:
        # tolerate stray dirs (e.g. an interrupted writer's temp): only
        # complete generations with an integer suffix count
        out = []
        for d in os.listdir(self.state_dir):
            if not d.startswith("gen="):
                continue
            suffix = d.split("=", 1)[1]
            if not suffix.isdigit():
                continue
            if os.path.exists(os.path.join(self.state_dir, d, "meta.json")):
                out.append(int(suffix))
        return sorted(out)

    def current(self):
        """(sketch-or-None, meta dict, generation int)."""
        gens = self._gens()
        if not gens:
            return None, {"batch_id": -1, "n_items": 0}, -1
        g = gens[-1]
        d = os.path.join(self.state_dir, f"gen={g}")
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        with open(os.path.join(d, "sketch.bin"), "rb") as f:
            blob = f.read()
        return sketches.loads(blob), meta, g

    def _write_gen(self, gen: int, sk, meta: dict) -> None:
        d = os.path.join(self.state_dir, f"gen={gen}")
        # tmp name must fail the _gens() "gen=" prefix filter so a crash
        # between write and rename can never corrupt generation listing
        tmp = os.path.join(self.state_dir, f".tmp-gen={gen}")
        os.makedirs(tmp, exist_ok=True)
        # fsync file contents before the rename and the parent dir after:
        # a journaled rename without flushed data blocks could otherwise
        # survive a power loss as a committed generation with a truncated
        # sketch.bin that current() can never load again
        with open(os.path.join(tmp, "sketch.bin"), "wb") as f:
            f.write(sk.to_bytes())
            f.flush()
            os.fsync(f.fileno())
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)
        dfd = os.open(self.state_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        # retain only the latest two generations
        for g in self._gens()[:-2]:
            shutil.rmtree(os.path.join(self.state_dir, f"gen={g}"),
                          ignore_errors=True)

    # -- the foreachBatch hook ------------------------------------------
    def update(self, batch_df, batch_id: int) -> None:
        """foreachBatch(batch_df, batch_id): fold the micro-batch in."""
        cur, meta, gen = self.current()
        if batch_id == meta["batch_id"]:
            return  # replayed batch already incorporated (exactly-once)
        if batch_id < meta["batch_id"]:
            # Spark only ever replays the LAST batch; an id strictly below
            # the committed one means a fresh/reset checkpoint is driving
            # an old state_dir — silently dropping every batch until the
            # ids catch up would lose data, so fail loudly instead
            raise ValueError(
                f"batch_id {batch_id} < committed {meta['batch_id']}: the "
                "streaming checkpoint was reset but state_dir "
                f"{self.state_dir!r} was not — point the query at a fresh "
                "state_dir or restore the original checkpoint")
        rows = sorted(partial_sketches(batch_df, self.spec).collect(),
                      key=lambda r: r["shard_id"])
        acc = merge_payloads((r["payload"] for r in rows),
                             cur if cur is not None else self.spec.make())
        self._write_gen(gen + 1, acc, {
            "batch_id": batch_id,
            "n_items": meta["n_items"] + sum(r["n_items"] for r in rows),
            "ts": time.time(),
        })

    def attach(self, stream_df, checkpoint_dir: str, trigger_secs: float = 1.0):
        """writeStream wiring: returns the started StreamingQuery."""
        return (stream_df.writeStream
                .foreachBatch(self.update)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(processingTime=f"{trigger_secs} seconds")
                .start())
