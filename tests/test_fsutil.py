"""Hadoop-FS helper behavior (qfilter_spark.fsutil)."""

import os
import time

from qfilter_spark import fsutil


def test_exists_isdir_delete_roundtrip(spark, tmp_path):
    d = tmp_path / "adir"
    d.mkdir()
    (d / "f.txt").write_text("x")
    p = str(d)
    assert fsutil.delete(spark, p)          # recursive
    assert not os.path.exists(p)
    assert fsutil.delete(spark, p)          # already gone -> True, no raise


def test_list_entries(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "file.bin").write_bytes(b"abc")
    entries = {name: (mtime, isdir)
               for name, mtime, isdir in fsutil.list_entries(spark, str(tmp_path))}
    assert entries["sub"][1] is True
    assert entries["file.bin"][1] is False
    assert abs(entries["file.bin"][0] - time.time()) < 3600
    assert fsutil.list_entries(spark, str(tmp_path / "nope")) == []


def test_child_join():
    assert fsutil.child("s3a://b/x", "y") == "s3a://b/x/y"
    assert fsutil.child("s3a://b/x/", "y") == "s3a://b/x/y"
