"""Deterministic synthetic token-corpus generator (FIXTURES.md F1).

Schema mandated by BASELINE.json ``input_hint``:
    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Every row is reproducible independently: doc *i* is generated by
``np.random.default_rng([SEED, i])`` (numpy PCG64), so distributed and
single-node generation agree bit-for-bit and the per-row invariant
(token-array equality through the pipeline) can be asserted against a
freshly generated reference row.

Layout: Parquet, identity-partitioned by ``source`` — an Iceberg-compatible
identity-partition layout (no Iceberg jars in this sandbox; swap
``spark.read.parquet`` for ``format("iceberg")`` + a catalog table when jars
are present, the engine code is unchanged).
"""

from __future__ import annotations

import os

import numpy as np

SEED = 42
VOCAB = 50257
N_SOURCES = 12
_SOURCE_ZIPF_A = 1.5  # top source ~49% of rows (drives the skew tests)

_w = 1.0 / np.arange(1, N_SOURCES + 1) ** _SOURCE_ZIPF_A
SOURCE_WEIGHTS = _w / _w.sum()
SOURCE_NAMES = [f"source-{k:02d}" for k in range(N_SOURCES)]


def gen_doc(i: int) -> tuple[str, np.ndarray, int, str]:
    """Generate row i: (doc_id, tokens[int32], n_tok, source)."""
    rng = np.random.default_rng([SEED, i])
    length = int(np.clip(np.round(rng.lognormal(5.5, 0.75)), 8, 4096))
    # zipf(1.2) folded onto the vocab range (documented interpretation of F1)
    tokens = ((rng.zipf(1.2, size=length) - 1) % VOCAB).astype(np.int32)
    source = SOURCE_NAMES[int(rng.choice(N_SOURCES, p=SOURCE_WEIGHTS))]
    return f"doc-{i:012d}", tokens, length, source


def gen_range(start: int, stop: int) -> dict[str, list]:
    """Generate rows [start, stop) as column lists (for Arrow/pandas)."""
    return gen_ids(range(start, stop))


def gen_ids(ids) -> dict[str, list]:
    """Generate rows for an explicit id iterable."""
    doc_ids, tokens, n_toks, sources = [], [], [], []
    for i in ids:
        d, t, n, s = gen_doc(int(i))
        doc_ids.append(d)
        tokens.append(t)
        n_toks.append(n)
        sources.append(s)
    return {"doc_id": doc_ids, "tokens": tokens, "n_tok": n_toks, "source": sources}


def write_corpus(path: str, n_docs: int, rows_per_file: int = 20_000,
                 partition_by_source: bool = True) -> str:
    """Write the corpus as (optionally identity-partitioned) Parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.dataset as ds

    schema = pa.schema([
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)

    def batches():
        for start in range(0, n_docs, rows_per_file):
            cols = gen_range(start, min(start + rows_per_file, n_docs))
            yield pa.record_batch([
                pa.array(cols["doc_id"], pa.string()),
                pa.array([t.tolist() for t in cols["tokens"]], pa.list_(pa.int32())),
                pa.array(cols["n_tok"], pa.int32()),
                pa.array(cols["source"], pa.string()),
            ], schema=schema)

    if partition_by_source:
        ds.write_dataset(batches(), path, format="parquet", schema=schema,
                         partitioning=ds.partitioning(pa.schema([("source", pa.string())]),
                                                      flavor="hive"),
                         existing_data_behavior="overwrite_or_ignore")
    else:
        with pq.ParquetWriter(os.path.join(path, "corpus.parquet"), schema) as w:
            for b in batches():
                w.write_batch(b)
    return path


def write_corpus_distributed(spark, path: str, n_docs: int,
                             n_partitions: int = 32) -> str:
    """Generate the same corpus on executors (mapInArrow over an id range).

    Bit-identical to :func:`write_corpus` because each row depends only on
    (SEED, i). Partitioned by ``source`` (identity / Iceberg-compatible).
    """
    import pyarrow as pa

    schema_str = "doc_id string, tokens array<int>, n_tok int, source string"

    def gen(batches):
        for batch in batches:
            ids = batch.column("id").to_numpy()
            cols = gen_ids(ids)
            yield pa.record_batch([
                pa.array(cols["doc_id"], pa.string()),
                pa.array([t.tolist() for t in cols["tokens"]], pa.list_(pa.int32())),
                pa.array(cols["n_tok"], pa.int32()),
                pa.array(cols["source"], pa.string()),
            ], names=["doc_id", "tokens", "n_tok", "source"])

    df = spark.range(0, n_docs, 1, n_partitions).mapInArrow(gen, schema_str)
    df.write.mode("overwrite").partitionBy("source").parquet(path)
    return path
