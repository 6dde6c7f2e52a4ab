"""Hadoop FileSystem helpers for engine-managed directories.

Modules that own on-disk state (bucketed dedup intermediates, merge-lineage
checkpoints, stored filter tables) route listings and deletion through the Hadoop FileSystem API of the live SparkSession rather
than driver-local ``os``/``shutil``. That makes every path scheme Spark can
write — local, ``hdfs://``, ``s3a://`` — equally manageable: a remote
``spark.qfilter.intermediateDir`` is actually swept and actually freed,
instead of the driver silently no-opping (or worse, rmtree-ing an unrelated
local path that shares the path component of a remote URI).

``delete`` and ``list_entries`` are best-effort: they swallow filesystem
errors (a raced concurrent cleanup must not fail the query).
"""

from __future__ import annotations


def jpath(spark, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def get_fs(spark, path: str):
    """The FileSystem owning ``path`` (resolves the scheme/authority)."""
    return jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def delete(spark, path: str) -> bool:
    """Recursive best-effort delete; True when the path is gone."""
    try:
        fs = get_fs(spark, path)
        p = jpath(spark, path)
        if not fs.exists(p):
            return True
        return bool(fs.delete(p, True))
    except Exception:
        return False


def list_entries(spark, base: str) -> list[tuple[str, float, bool]]:
    """``(name, mtime_secs, is_dir)`` for each child of ``base``; empty on
    a missing/unlistable base (mirrors the old os.listdir OSError path)."""
    try:
        fs = get_fs(spark, base)
        p = jpath(spark, base)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            out.append((st.getPath().getName(),
                        st.getModificationTime() / 1000.0,
                        bool(st.isDirectory())))
        return out
    except Exception:
        return []


def parquet_schema(spark, location: str):
    """The Spark schema of one Parquet data file under ``location`` (a
    file, or a directory searched depth-first through its partition
    directories, skipping the names Spark's file index skips), or None
    when there is none.

    Read on the driver from the file's footer and converted the way
    Spark's schema inference converts a footer, so that
    ``spark.read.schema(...)`` reads what inference would, without the
    Spark job inference runs; partition columns are still inferred from
    the paths and are not part of it.
    """
    from pyspark.sql.types import _parse_datatype_json_string

    jvm = spark._jvm
    fs, p = get_fs(spark, location), jpath(spark, location)

    def data_file(st):
        if not st.isDirectory():
            return st
        for child in fs.listStatus(st.getPath()):
            name = child.getPath().getName()
            # Spark's file index skips these, but keeps _key=value dirs
            if name.startswith(".") or (name.startswith("_")
                                        and "=" not in name):
                continue
            found = data_file(child)
            if found is not None:
                return found
        return None

    st = data_file(fs.getFileStatus(p)) if fs.exists(p) else None
    if st is None:
        return None
    parquet = jvm.org.apache.parquet.hadoop
    footer = parquet.Footer(st.getPath(), parquet.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), st))
    sql = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = sql.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    return _parse_datatype_json_string(
        sql.ParquetFileFormat.readSchemaFromFooter(footer, converter).json())


def child(base: str, name: str) -> str:
    """URI-safe join (``os.path.join`` is fine for posix paths but this
    keeps intent explicit for scheme-qualified bases)."""
    return base.rstrip("/") + "/" + name


def total_length(spark, input_files: list[str], max_dirs: int = 64) -> int:
    """Total bytes of a set of scan input files (one ``listStatus`` RPC
    per distinct parent directory).
    Returns 0 when nothing is listable — callers must treat 0 as
    "unknown" and fall back to a safe default."""
    by_parent: dict[str, set[str]] = {}
    for f in input_files:
        if "/" in f:
            d, name = f.rsplit("/", 1)
            by_parent.setdefault(d, set()).add(name)
    if len(by_parent) > max_dirs:
        return 0
    total = 0
    matched = 0
    for d in sorted(by_parent):
        names = by_parent[d]
        try:
            fs = get_fs(spark, d)
            for st in fs.listStatus(jpath(spark, d)):
                if st.getPath().getName() in names:
                    total += int(st.getLen())
                    matched += 1
        except Exception:
            return 0
    # any input file missing from its parent's listing (deleted between
    # planning and sizing, URI-escaped name mismatch, ...) makes the sum
    # a silent undercount — report unknown instead of a partial total
    if matched < sum(len(v) for v in by_parent.values()):
        return 0
    return total

