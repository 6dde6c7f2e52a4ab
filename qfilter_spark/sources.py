"""Source/sink abstraction: Iceberg table when available, Parquet fallback.

The target deployment reads the tokenized corpus from an Iceberg table
(BASELINE.json input_hint). This sandbox has no Iceberg jars, so the corpus
is laid out as identity-partitioned Parquet (the same physical layout an
Iceberg identity-partition spec produces); swapping in Iceberg changes only
this module.
"""

from __future__ import annotations


def intermediate_dir(spark) -> str:
    """Home for engine-managed intermediate tables (bucketed dedup
    intermediates): ``spark.qfilter.intermediateDir``, which a deployment
    points at scratch storage with its own lifecycle; default system temp."""
    import tempfile

    return spark.conf.get("spark.qfilter.intermediateDir",
                          tempfile.gettempdir())


_swept: set[tuple[str, str]] = set()  # (base, prefix) done this process


def sweep_dead_intermediates(spark, base: str, app: str, prefix: str,
                             max_age_days: int = 7) -> None:
    """Best-effort removal of intermediates left by DEAD sessions under
    ``base`` (dirs starting with ``prefix``, not owned by ``app``, older
    than ``max_age_days``), once per (base, prefix) per process. The
    cutoff is long enough that another LIVE session's intermediate —
    written at its own start — is never swept from under it; entries
    deleted concurrently mid-scan are skipped. Listing and deletion go
    through the session's Hadoop FileSystem, so a remote
    ``spark.qfilter.intermediateDir`` (hdfs://, s3a://) is really swept
    instead of silently leaking forever."""
    import time

    from . import fsutil

    if (base, prefix) in _swept:
        return
    _swept.add((base, prefix))
    cutoff = time.time() - max_age_days * 86_400
    for name, mtime, isdir in fsutil.list_entries(spark, base):
        if not name.startswith(prefix) or app in name:
            continue
        if isdir and mtime < cutoff:
            fsutil.delete(spark, fsutil.child(base, name))


def _has_iceberg(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def read_corpus(spark, location: str):
    """Read the (doc_id, tokens, n_tok, source) corpus.

    ``location`` is either an Iceberg table identifier (used when the
    Iceberg runtime is on the classpath) or a Parquet directory path,
    whose schema comes from one data file's footer, read on the driver
    (:func:`fsutil.parquet_schema`; inference would run a Spark job), and
    whose partition columns Spark infers from the paths.
    """
    if "/" not in location and _has_iceberg(spark):
        return spark.read.format("iceberg").load(location)
    from .fsutil import parquet_schema

    schema = parquet_schema(spark, location)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(location)


def write_corpus(df, location: str, mode: str = "overwrite"):
    """Write the corpus identity-partitioned by source (Iceberg-compatible)."""
    if "/" not in location and _has_iceberg(df.sparkSession):
        return (df.writeTo(location).partitionedBy("source")
                .using("iceberg").createOrReplace())
    return df.write.mode(mode).partitionBy("source").parquet(location)


def write_filter_table(filter_df, location: str, mode: str = "overwrite"):
    """Persist a sharded filter table: (shard, n_fps, payload), or
    (key, shard, n_fps, payload) for a split table."""
    return filter_df.write.mode(mode).parquet(location)


def read_filter_table(spark, location: str):
    """A stored filter table with the columns it was written with: the
    split schema when a part file's footer (read on the driver; schema
    inference would run a Spark job) has ``key``, else the uniform one."""
    from .dist.sharded import SHARDED_SCHEMA, SPLIT_SCHEMA
    from .fsutil import parquet_schema

    schema = parquet_schema(spark, location)
    split = schema is not None and "key" in schema.names
    return spark.read.schema(SPLIT_SCHEMA if split else SHARDED_SCHEMA) \
        .parquet(location)
