"""Checkpointed merge lineage (north_rule: resumable runs).

Each tree-merge round is persisted as a Parquet table
``<dir>/round=K/`` carrying per-shard lineage + metrics
(shard_id, n_items, build_secs, payload). Spark writes the shuffle rounds
and a round 0 of more than fan_in (or uncounted) partials; the driver
commits the rows it collects, the root and a round 0 of at most fan_in
counted partials, as one Parquet file without a Spark job. A round is
complete when its ``_SUCCESS`` marker exists; resume reads the last
complete round and continues the reduction from there, skipping all
finished work.

Filesystem access goes through the Hadoop FileSystem API of the live
SparkSession (not driver-local ``os``), so the checkpoint directory may be
any Spark-writable location — ``hdfs://``, ``s3a://``, or a local path —
and completeness detection works wherever the data was written.

Two recovery hazards are closed structurally:
- **stale rounds**: a fresh run deletes every round before its first job,
  and writing round K every round > K, so a reused directory can never
  resume into leftovers of a previous run (the highest complete round
  always belongs to the run that wrote last);
- **merge-shape drift**: the fan_in is recorded in ``manifest.json`` at
  first write, and :func:`resume_tree_merge` defaults to it — resuming
  with a different fan_in than the original run would regroup the
  remaining shards differently, which changes the result bytes for the
  weakly order-dependent quantile sketches.
"""

from __future__ import annotations

import json
import os
import tempfile

from .agg import PARTIAL_SCHEMA, _check_fan_in, _reduce_rounds

_MANIFEST = "manifest.json"


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

    def drop_rounds(self, rnd: int) -> None:
        """Delete every round >= ``rnd``."""
        fs = self._fs()
        for stale in self._round_dirs(fs):
            if stale >= rnd:
                fs.delete(self._jpath(f"round={stale}"), True)

    def write_round(self, df, rnd: int):
        """Persist a round and return the re-read DataFrame (cuts lineage).

        First invalidates every round ABOVE ``rnd``: those can only be
        leftovers of a previous run in a reused directory, and resuming
        into them would silently return the previous run's data — also
        when this write dies, so they go before it starts.
        """
        self.drop_rounds(rnd + 1)
        path = self._round_path(rnd)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(PARTIAL_SCHEMA).parquet(path)

    def commit_round(self, rnd: int, rows) -> None:
        """Commit the driver's ``rows`` (Rows or dicts of the
        ``PARTIAL_SCHEMA`` fields) as round ``rnd`` without a Spark job.

        pyarrow streams them, a row group each, into a Parquet file in
        PySpark's driver scratch directory (under ``spark.local.dir``),
        which Hadoop copies into place: no payload crosses Py4J. Rounds >=
        ``rnd`` are deleted first and ``_SUCCESS`` is created last, so a
        crash mid-commit leaves an incomplete round that resume ignores,
        merging again from the round below.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .. import fsutil

        schema = pa.schema([("shard_id", pa.int64()), ("n_items", pa.int64()),
                            ("build_secs", pa.float64()),
                            ("payload", pa.binary())])
        self.drop_rounds(rnd)
        fs = self._fs()
        with tempfile.TemporaryDirectory(
                dir=self.spark.sparkContext._temp_dir) as tmp:
            local = os.path.join(tmp, "part-00000.parquet")
            # min/max statistics of a blob column cost a pass over it
            with pq.ParquetWriter(local, schema, use_dictionary=False,
                                  write_statistics=False) as writer:
                for r in rows:
                    writer.write_batch(pa.record_batch(
                        [pa.array([r[f.name]], f.type) for f in schema],
                        schema=schema))
            fs.copyFromLocalFile(True, True, fsutil.jpath(self.spark, local),
                                 self._jpath(f"round={rnd}",
                                             "part-00000.parquet"))
        self._put(fs, b"", f"round={rnd}", "_SUCCESS")

    def _put(self, fs, data: bytes, *parts: str) -> None:
        """Create (overwrite) the small file ``parts`` holding ``data``."""
        out = fs.create(self._jpath(*parts), True)
        try:
            out.write(bytearray(data))
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
            data = inp.readNBytes(4096)
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
