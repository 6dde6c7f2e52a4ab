"""Token n-gram hashing over Arrow list columns — fully vectorized.

The reference hashes whole items (src/lib.rs:1380-1391); our corpus rows are
token sequences, so the unit of membership is the token n-gram (SURVEY.md
§1.3 input mapping). Hashes use the Spark-compatible XXH64 chain
(:mod:`qfilter_spark.hashing`), so the same n-gram hashed on the JVM with
``F.xxhash64(t0.cast('long'), t1.cast('long'), ...)`` (after posexplode)
yields the identical value — verified in tests/test_dist.py.
"""

from __future__ import annotations

import numpy as np

from ..hashing import xxh64_u64_chain_sliding


def flat_from_arrow(list_array) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 values, int64 offsets) from a pyarrow ListArray chunk."""
    # ChunkedArray -> single Array
    if hasattr(list_array, "combine_chunks"):
        list_array = list_array.combine_chunks()
    offsets = list_array.offsets.to_numpy().astype(np.int64)
    values = list_array.values.to_numpy().astype(np.int64)
    # offsets of a sliced array may not start at 0
    start = offsets[0]
    return values[start:offsets[-1]], offsets - start


def ngram_hashes(flat: np.ndarray, offsets: np.ndarray, n: int) -> np.ndarray:
    """uint64 hashes of every n-gram that lies entirely within one document.

    ``flat`` is the concatenation of all docs' tokens (int64), ``offsets``
    the per-doc boundaries (len = n_docs+1). O(total_tokens * n), no loops
    over rows.
    """
    total = flat.size
    if total < n:
        return np.empty(0, dtype=np.uint64)
    n_windows = total - n + 1
    hashes = xxh64_u64_chain_sliding(flat, n)  # fused: one lane pass
    # keep windows that do not cross a document boundary
    lengths = np.diff(offsets)
    doc_of = np.repeat(np.arange(lengths.size, dtype=np.int64), lengths)
    valid = doc_of[:n_windows] == doc_of[n - 1:]
    return hashes[valid]


def ngram_hash_rows(df, col: str = "tokens", n: int = 3):
    """DataFrame of one int64 row ``h`` per within-doc n-gram (mapInArrow)."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, offsets = flat_from_arrow(batch.column(col))
            h = ngram_hashes(flat, offsets, n)
            yield pa.record_batch([pa.array(h.view(np.int64), pa.int64())],
                                  names=["h"])

    return df.select(col).mapInArrow(run, "h long")
