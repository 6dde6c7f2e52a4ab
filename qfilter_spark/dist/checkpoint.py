"""Checkpointed merge lineage (north_rule: resumable runs).

Each tree-merge round is persisted as a Parquet table
``<dir>/round=K/`` carrying per-shard lineage + metrics
(shard_id, n_items, build_secs, payload). Spark writes round 0 and every
shuffle round; the root, which the driver merges from the last <= fan_in
blobs, is committed by the driver as one Parquet file without a Spark job,
its ``_SUCCESS`` marker created last. A round is complete when its
``_SUCCESS`` marker exists; resume reads the last complete round and
continues the reduction from there, skipping all finished work.

Filesystem access goes through the Hadoop FileSystem API of the live
SparkSession (not driver-local ``os``), so the checkpoint directory may be
any Spark-writable location — ``hdfs://``, ``s3a://``, or a local path —
and completeness detection works wherever the data was written.

Two recovery hazards are closed structurally:
- **stale rounds**: writing round K deletes every round > K (committing a
  root at K first deletes every round >= K), so a reused
  directory can never resume into leftovers of a previous run (the
  highest complete round always belongs to the run that wrote last);
- **merge-shape drift**: the fan_in is recorded in ``manifest.json`` at
  first write, and :func:`resume_tree_merge` defaults to it — resuming
  with a different fan_in than the original run would regroup the
  remaining shards differently, which changes the result bytes for the
  weakly order-dependent quantile sketches.
"""

from __future__ import annotations

import json

from .agg import PARTIAL_SCHEMA, _check_fan_in, _reduce_rounds

_MANIFEST = "manifest.json"
#: bytes per Hadoop FS write call: bounds the Py4J message for large roots
_CHUNK = 1 << 20


class MergeLineage:
    def __init__(self, spark, directory: str):
        self.spark = spark
        self.dir = directory

    # -- Hadoop FS plumbing via fsutil (local, hdfs://, s3a://, ...) ----
    def _jpath(self, *parts: str):
        from .. import fsutil

        sep = "" if self.dir.endswith("/") else "/"
        return fsutil.jpath(
            self.spark, self.dir + (sep + "/".join(parts) if parts else ""))

    def _fs(self):
        from .. import fsutil

        return fsutil.get_fs(self.spark, self.dir)

    def _round_path(self, rnd: int) -> str:
        sep = "" if self.dir.endswith("/") else "/"
        return f"{self.dir}{sep}round={rnd}"

    def write_round(self, df, rnd: int):
        """Persist a round and return the re-read DataFrame (cuts lineage).

        Also invalidates every round ABOVE ``rnd``: those can only be
        leftovers of a previous run in a reused directory, and resuming
        into them would silently return the previous run's data.
        """
        path = self._round_path(rnd)
        df.write.mode("overwrite").parquet(path)
        fs = self._fs()
        for stale in self._round_dirs(fs):
            if stale > rnd:
                fs.delete(self._jpath(f"round={stale}"), True)
        return self.spark.read.schema(PARTIAL_SCHEMA).parquet(path)

    def commit_root(self, rnd: int, n_items: int, build_secs: float,
                    payload: bytes) -> None:
        """Commit the driver-merged root as round ``rnd`` without a Spark job.

        One ``PARTIAL_SCHEMA`` Parquet file (shard_id 0) built with pyarrow.
        Rounds >= ``rnd`` are deleted first and ``_SUCCESS`` is created
        last, so a crash mid-commit leaves an incomplete round that resume
        ignores, merging again from the round below.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        sink = pa.BufferOutputStream()
        pq.write_table(pa.table({
            "shard_id": pa.array([0], pa.int64()),
            "n_items": pa.array([n_items], pa.int64()),
            "build_secs": pa.array([build_secs], pa.float64()),
            "payload": pa.array([payload], pa.binary()),
        }), sink)
        fs = self._fs()
        for stale in self._round_dirs(fs):
            if stale >= rnd:
                fs.delete(self._jpath(f"round={stale}"), True)
        self._put(fs, sink.getvalue(), f"round={rnd}", "part-00000.parquet")
        self._put(fs, b"", f"round={rnd}", "_SUCCESS")

    def _put(self, fs, data, *parts: str) -> None:
        """Create (overwrite) the file ``parts`` holding ``data``."""
        view = memoryview(data)
        out = fs.create(self._jpath(*parts), True)
        try:
            for i in range(0, len(view), _CHUNK):
                out.write(bytearray(view[i:i + _CHUNK]))
        finally:
            out.close()

    def _round_dirs(self, fs) -> list[int]:
        base = self._jpath()
        if not fs.exists(base):
            return []
        out = []
        for st in fs.listStatus(base):
            name = st.getPath().getName()
            if not name.startswith("round="):
                continue
            suffix = name.split("=", 1)[1]
            if not suffix.isdigit():  # stray dirs (backups, copy-tool
                continue              # artifacts) must not break resume
            out.append(int(suffix))
        return sorted(out)

    def complete_rounds(self) -> list[int]:
        fs = self._fs()
        return [r for r in self._round_dirs(fs)
                if fs.exists(self._jpath(f"round={r}", "_SUCCESS"))]

    def last_complete_round(self) -> int | None:
        rounds = self.complete_rounds()
        return rounds[-1] if rounds else None

    def read_round(self, rnd: int):
        return self.spark.read.schema(PARTIAL_SCHEMA).parquet(self._round_path(rnd))

    def metrics(self, rnd: int) -> list[dict]:
        """Per-shard lineage metrics for a round (without payloads)."""
        rows = self.read_round(rnd).select("shard_id", "n_items", "build_secs").collect()
        return [r.asDict() for r in rows]

    # -- manifest (merge-shape metadata, makes resume self-describing) --
    def record_fan_in(self, fan_in: int) -> None:
        """Called by tree_merge at the start of a checkpointed run."""
        self._put(self._fs(), json.dumps({"fan_in": int(fan_in)}).encode(),
                  _MANIFEST)

    def manifest_fan_in(self) -> int | None:
        fs = self._fs()
        p = self._jpath(_MANIFEST)
        if not fs.exists(p):
            return None  # pre-manifest checkpoint: caller falls back
        inp = fs.open(p)
        try:
            data = bytearray()
            b = inp.read()
            while b != -1 and len(data) < 4096:
                data.append(b)
                b = inp.read()
        finally:
            inp.close()
        return int(json.loads(bytes(data).decode())["fan_in"])


def resume_tree_merge(spark, directory: str, fan_in: int | None = None) -> bytes:
    """Continue an interrupted tree merge from its last complete round.

    ``fan_in`` defaults to the value the original run recorded in the
    checkpoint's manifest — resuming with a different fan_in regroups the
    remaining shards differently, which is bytes-visible for the weakly
    order-dependent quantile sketches. Pass it explicitly only to
    override (or for pre-manifest checkpoints, where the fallback is 16).
    """
    if fan_in is not None:
        _check_fan_in(fan_in)
    lineage = MergeLineage(spark, directory)
    last = lineage.last_complete_round()
    if last is None:
        raise FileNotFoundError(f"no complete merge round under {directory}")
    if fan_in is None:
        fan_in = lineage.manifest_fan_in() or 16
    elif fan_in != lineage.manifest_fan_in():
        # an explicit override becomes the checkpoint's truth: a LATER
        # crash-and-resume must regroup with the fan_in that actually
        # produced the rounds written from here on, not the original one
        lineage.record_fan_in(fan_in)
    df = lineage.read_round(last)
    return _reduce_rounds(df, df.count(), fan_in, lineage, last)
