"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003).

The rolling hash is the XXH64 n-gram CHAIN over token hashes — the same
family every other operator uses, and expressible entirely in JVM
built-ins: ``xxhash64(t[i], t[i+1], t[i+2])`` inside a ``transform``
lambda seeds each lane with the previous hash exactly like the numpy
kernel (bit-parity asserted by the doc_fingerprint_winnow gate query).
Selection is the standard winnow: the minimum of every w-length window of
gram hashes, deduplicated — guarantees any shared substring of length
>= w + n - 1 tokens contributes a shared fingerprint.

Everything below is whole-stage-codegen-friendly Spark expressions; no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def token_hash_col(text_col: str = "text") -> Column:
    """array<long> of per-word XXH64 hashes (JVM)."""
    return F.expr(f"transform(split({text_col}, ' '), w -> xxhash64(w))")


def gram_hash_col(tk_col: str = "tk", n: int = 3) -> Column:
    """Sliding n-gram chain hashes over a token-hash array (JVM).

    xxhash64(a, b, c) chains lanes (each element's hash seeds the next) —
    bit-identical to qfilter_spark.functions.ngrams.ngram_hashes.

    Sliding window = ``arrays_zip`` of n shifted ``slice``s so the lambda
    references only its zipped element: per-element references to the
    OUTER array (``tk[i+j]``) would get the array's whole upstream
    expression inlined by CollapseProject and re-evaluated per element —
    quadratic in document length (see dedup.with_shingles).
    """
    zips = ", ".join(f"slice({tk_col}, {j + 1}, size({tk_col}) - {n} + 1)"
                     for j in range(n))
    args = ", ".join(f"p['{j}']" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tk_col}) < {n} THEN array() ELSE "
        f"transform(arrays_zip({zips}), p -> xxhash64({args})) END")


def winnow_col(grams_col: str = "grams", w: int = 4) -> Column:
    """Winnowed fingerprint set: distinct window minima (JVM).

    Documents with fewer than w grams contribute their single global
    minimum (the paper's convention for short inputs). Windows are an
    ``arrays_zip`` of w shifted slices with ``least`` over the zipped
    struct's fields — per-window ``slice({grams_col}, j, w)`` inside the
    lambda would re-evaluate the whole grams expression per window once
    CollapseProject inlines it (see :func:`gram_hash_col`).
    """
    zips = ", ".join(f"slice({grams_col}, {j + 1}, size({grams_col}) - {w} + 1)"
                     for j in range(w))
    mins = ", ".join(f"p['{j}']" for j in range(w))
    return F.expr(
        f"CASE WHEN size({grams_col}) = 0 THEN array() "
        f"WHEN size({grams_col}) < {w} THEN array(array_min({grams_col})) "
        f"ELSE array_distinct(transform(arrays_zip({zips}), "
        f"p -> least({mins}))) END")
