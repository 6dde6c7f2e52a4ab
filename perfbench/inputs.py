"""Seeded benchmark inputs.

A seed selects a disjoint doc-id range of the F1 corpus generator
(``qfilter_spark.corpus.gen_ids``), so every seed gives a different corpus
with the same size and shape, and the library under test only ever sees the
generated parquet. Each (doc-id range, size) is generated once and cached
under the work directory; a ``_DONE`` marker makes a half-written cache
entry invisible.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

#: doc ids of seed s start at (s + 1) * SEED_STRIDE: ranges never overlap
#: for any corpus smaller than the stride
SEED_STRIDE = 10**8

#: files per corpus: enough that a local[n] scan splits into >= n tasks
FILES_PER_CORPUS = 16


def doc_base(seed: int) -> int:
    return (seed + 1) * SEED_STRIDE


def corpus_path(work: str, first_id: int, n_docs: int,
                batch_docs: int | None = None) -> str:
    """Parquet corpus of docs [first_id, first_id + n_docs), identity-
    partitioned by source like the library's own corpus writer. With
    ``batch_docs``, rows also carry ``batch`` = their offset // batch_docs
    as an outer partition, so one batch reads without scanning the rest.

    Rows come from the program's generator, ``corpus.gen_ids``; this
    process writes them with pyarrow (no Spark job), so generating a new
    seed's inputs costs about a second."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from qfilter_spark import corpus

    name = f"corpus_{first_id}_{n_docs}" + (
        f"_b{batch_docs}" if batch_docs else "")
    path = os.path.join(work, "inputs", name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    cols = corpus.gen_ids(range(first_id, first_id + n_docs))
    lengths = np.array([t.size for t in cols["tokens"]], dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    arrays = {
        "doc_id": pa.array(cols["doc_id"], pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate(cols["tokens"]))),
        "n_tok": pa.array(cols["n_tok"], pa.int32()),
        "source": pa.array(cols["source"], pa.string()),
    }
    parts = [("source", pa.string())]
    if batch_docs:
        arrays["batch"] = pa.array(np.arange(n_docs) // batch_docs, pa.int32())
        parts.insert(0, ("batch", pa.int32()))
    rows = max(1, n_docs // FILES_PER_CORPUS)
    ds.write_dataset(pa.table(arrays), path, format="parquet",
                     partitioning=ds.partitioning(pa.schema(parts),
                                                  flavor="hive"),
                     max_rows_per_file=rows, max_rows_per_group=rows)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


def read_arrow(path: str, columns: list[str]):
    """The whole corpus as one Arrow table, read in this process."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns)


def trigram_keys(tokens_col) -> tuple[np.ndarray, np.ndarray]:
    """(exact int64 key, doc row) of every within-doc token 3-gram.

    The key packs the three token ids in base VOCAB, so it identifies the
    n-gram exactly with no hashing: the truth the sketches are checked
    against does not depend on the hash kernels under test.
    """
    from qfilter_spark.corpus import VOCAB

    arr = tokens_col.combine_chunks() if hasattr(tokens_col, "combine_chunks") \
        else tokens_col
    offsets = arr.offsets.to_numpy().astype(np.int64)
    flat = arr.values.to_numpy().astype(np.int64)[offsets[0]:offsets[-1]]
    offsets = offsets - offsets[0]
    if flat.size < 3:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lengths = np.diff(offsets)
    doc = np.repeat(np.arange(lengths.size, dtype=np.int64), lengths)
    valid = doc[:-2] == doc[2:]
    keys = (flat[:-2] * VOCAB + flat[1:-1]) * VOCAB + flat[2:]
    return keys[valid], doc[:-2][valid]


def key_to_tokens(keys: np.ndarray) -> np.ndarray:
    """(n, 3) token ids of packed 3-gram keys."""
    from qfilter_spark.corpus import VOCAB

    t2 = keys % VOCAB
    t1 = (keys // VOCAB) % VOCAB
    t0 = keys // (VOCAB * VOCAB)
    return np.stack([t0, t1, t2], axis=1)
