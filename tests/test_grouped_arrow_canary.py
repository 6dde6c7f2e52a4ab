"""Canary for the hint-free grouped-map contract (VERDICT r5 #2).

dist/agg.build_grouped_sketches defines its applyInArrow fold, and
dist/agg's shared merge round its applyInPandas merge, WITHOUT type hints
on purpose: PySpark's eval-type inference crashes (applyInArrow) or warns
on every call (applyInPandas) on unresolvable hints, and the hint-free
fallback happens to resolve to the grouped-map eval types we need. That is
a fragile upstream contract: a PySpark upgrade that changes the inference
rules would otherwise fail deep inside a gate run with an opaque worker
error. These tests construct a grouped-map applyInArrow exactly the way
agg.py does and fail with a readable message if the contract moves, and
check that the library's grouped maps stay hint-free.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
import pytest


@pytest.mark.usefixtures("spark")
def test_hint_free_apply_in_arrow_grouped_map(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v long")

    # EXACTLY the agg.py shape: no type hints on either parameter, a
    # pyarrow.Table in and out, a tuple key
    def fold(key, tbl):
        return pa.table({
            "k": pa.array([key[0].as_py()], pa.string()),
            "n": pa.array([tbl.num_rows], pa.int64()),
        })

    try:
        rows = (df.groupBy("k").applyInArrow(fold, "k string, n long")
                .collect())
    except Exception as exc:  # noqa: BLE001 — the message IS the product
        pytest.fail(
            "hint-free applyInArrow grouped-map no longer resolves to the "
            "grouped-map Arrow eval type — PySpark's eval-type inference "
            f"contract changed (see dist/agg.py build_grouped_sketches): {exc!r}")
    got = {r["k"]: r["n"] for r in rows}
    assert got == {"a": 2, "b": 1}, got


def test_library_grouped_maps_raise_no_type_hint_warning(spark):
    from pyspark.sql import functions as F

    from qfilter_spark.dist import (
        SketchSpec, build_grouped_sketches, partial_sketches, tree_merge)

    df = spark.range(0, 64, numPartitions=4).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.xxhash64("id").alias("h"))
    spec = SketchSpec("hll", dict(p=8), "hash_col", "h")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tree_merge(partial_sketches(df, spec), fan_in=2, n_partials=4)
        build_grouped_sketches(df, "g", spec, n_salts=2).collect()
    hints = [str(w.message) for w in caught
             if "Cannot infer the eval type" in str(w.message)]
    assert not hints, hints
