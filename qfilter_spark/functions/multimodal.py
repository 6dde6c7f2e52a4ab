"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
kernels over ``mapInArrow`` so bytes never round-trip through per-row
Python.

STUB NOTICE: real codecs (PIL/torchaudio/ffmpeg) are not available in this
container. :func:`extract_features` therefore uses a clearly-marked
deterministic fake decoder (seeded from the payload hash) so the Spark-side
plumbing — schema, partitioning, UDF signature, Arrow batch shape — is real
and tested; :func:`decode_image` raises ``NotImplementedError`` unless a
codec library is importable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

FEATURE_DIM = 16


def _require_payloads(batch, media_col: str) -> None:
    """Refuse NULL media rows/payloads in a kernel batch.

    A NULL payload still hashes JVM-side (xxhash64 of an all-NULL lane
    degenerates to the seed constant), so without this check every NULL
    row would get the SAME fabricated features/raster, and a NULL
    ``n_bytes`` would launder through NaN into a garbage frame count —
    the NULL-hash refusal contract, applied to media columns."""
    col = batch.column(media_col)
    nulls = (col.null_count + col.field("bytes").null_count
             + col.field("n_bytes").null_count)
    if nulls:
        raise ValueError(
            f"multimodal kernel: NULL media rows/payloads/sizes in "
            f"{media_col!r}; filter them out upstream")


def attach_media(df: DataFrame, payload_expr: str, media_type: str = "image",
                 out_col: str = "media") -> DataFrame:
    """Wrap a binary payload with typed metadata: struct(bytes, type, size)."""
    return df.withColumn(out_col, F.struct(
        F.expr(payload_expr).alias("bytes"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(F.expr(payload_expr)).alias("n_bytes"),
    ))


def decode_image(data: bytes):
    """Real image decode — requires a codec library (absent in sandbox)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decoding requires PIL, which is not installed in this "
            "environment; extract_features uses the deterministic stub") from e
    import io
    from PIL import Image
    return Image.open(io.BytesIO(data))


def extract_features(df: DataFrame, media_col: str = "media",
                     dim: int = FEATURE_DIM, out_col: str = "features") -> DataFrame:
    """Deterministic fake feature extraction over binary payloads.

    Stand-in for a real encoder. The payload hash is computed JVM-side
    (``F.xxhash64(media.bytes)`` inside whole-stage codegen — bytes are
    never touched by Python), and the feature math is a fully vectorized
    numpy mix of that 64-bit seed: ``dim`` batched XXH64 passes mapped to
    [-1, 1). The Arrow plumbing (ListArray construction from flat buffers,
    batch shape, schema) is the real production path; only the decode math
    is fake — see the module STUB NOTICE.
    """
    import pyarrow as pa

    from ..hashing import xxh64_u64_multi_seed

    seeded = df.withColumn("__seed", F.xxhash64(F.col(f"{media_col}.bytes")))
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{in_fields}, {out_col} array<float>"

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            _require_payloads(batch, media_col)
            seeds = (batch.column("__seed").to_numpy(zero_copy_only=False)
                     .astype(np.int64).view(np.uint64))
            # (dim, n): the seeds' lanes mixed once, one combine per dimension
            u = xxh64_u64_multi_seed(seeds, np.arange(1, dim + 1, dtype=np.uint64)
                                     ).astype(np.float64) / 2.0**64
            feats = np.ascontiguousarray((2.0 * u - 1.0).astype(np.float32).T)
            keep = [k for k, nm in enumerate(batch.schema.names) if nm != "__seed"]
            cols = [batch.column(k) for k in keep]
            names = [batch.schema.names[k] for k in keep]
            offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
            cols.append(pa.ListArray.from_arrays(
                offsets, pa.array(feats.ravel(), pa.float32())))
            yield pa.record_batch(cols, names=names + [out_col])

    return seeded.mapInArrow(run, schema)


RESIZE_NATIVE = 32  # fake decoder's native raster edge (px)


def resize_media(df: DataFrame, media_col: str = "media", width: int = 8,
                 height: int = 8, out_col: str = "resized") -> DataFrame:
    """Deterministic-fake decode + REAL vectorized resize.

    The "decode" is the module's stub (no codecs in sandbox): a constant
    ``RESIZE_NATIVE``² RGB raster seeded from the JVM-side payload hash,
    generated as batched XXH64 lanes — one (n, native²·3) tensor per Arrow
    batch, no per-row Python. The resize itself is real codec-independent
    math: nearest-neighbor index selection down to (height, width), then
    re-encode as a raw RGB binary payload built zero-copy from the flat
    buffer (offsets + data). This is the exact production shape a PIL/
    libvips kernel would drop into — only the raster source is fake.
    """
    import pyarrow as pa

    from ..hashing import xxh64_u64_multi_seed

    n_lanes = RESIZE_NATIVE * RESIZE_NATIVE * 3 // 8
    out_px = height * width * 3
    seeded = df.withColumn("__seed", F.xxhash64(F.col(f"{media_col}.bytes")))
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in df.schema.fields)
    schema = f"{in_fields}, {out_col} binary"
    idx_y = (np.arange(height) * RESIZE_NATIVE // height).astype(np.int64)
    idx_x = (np.arange(width) * RESIZE_NATIVE // width).astype(np.int64)

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if (n + 1) * out_px >= 1 << 31:
                raise ValueError(
                    "Arrow batch too large for int32 binary offsets at "
                    f"{out_px} output bytes/row — lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch")
            _require_payloads(batch, media_col)
            seeds = (batch.column("__seed").to_numpy(zero_copy_only=False)
                     .astype(np.int64).view(np.uint64))
            # (n_lanes, n): the seeds' lanes mixed once, one combine per lane
            lanes = np.ascontiguousarray(xxh64_u64_multi_seed(
                seeds, np.arange(101, 101 + n_lanes, dtype=np.uint64)).T)
            raster = lanes.view(np.uint8).reshape(
                n, RESIZE_NATIVE, RESIZE_NATIVE, 3)
            small = raster[:, idx_y][:, :, idx_x]  # (n, h, w, 3) NN resize
            flat = np.ascontiguousarray(small).reshape(n * out_px)
            offsets = pa.array(
                np.arange(0, (n + 1) * out_px, out_px, dtype=np.int32))
            binary = pa.Array.from_buffers(
                pa.binary(), n,
                [None, offsets.buffers()[1], pa.py_buffer(flat.tobytes())])
            keep = [k for k, nm in enumerate(batch.schema.names)
                    if nm != "__seed"]
            yield pa.record_batch(
                [batch.column(k) for k in keep] + [binary],
                names=[batch.schema.names[k] for k in keep] + [out_col])

    return seeded.mapInArrow(run, schema)


def sample_frames(df: DataFrame, media_col: str = "media", every: int = 2,
                  id_cols: list[str] | None = None) -> DataFrame:
    """Frame sampling over fake video containers: one output row per
    sampled frame.

    The "container header parse" is deterministic fake (no ffmpeg in
    sandbox): ``n_frames = 1 + n_bytes % 7``, an exact function of payload
    length, so the output cardinality has an exact SQL oracle. Every
    ``every``-th frame is emitted with (frame_idx, 8-byte frame
    fingerprint payload). The fan-out is vectorized (np.repeat index
    take on the Arrow batch); a real demuxer kernel would replace only
    the per-frame payload derivation.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..hashing import xxh64_u64

    cols = id_cols or [f.name for f in df.schema.fields
                       if f.name != media_col]
    base = df.withColumn("__seed", F.xxhash64(F.col(f"{media_col}.bytes"))) \
        .withColumn("__nb", F.col(f"{media_col}.n_bytes"))
    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in cols)
    schema = f"{in_fields}, frame_idx int, frame binary"

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            _require_payloads(batch, media_col)
            seeds = (batch.column("__seed").to_numpy(zero_copy_only=False)
                     .astype(np.int64).view(np.uint64))
            nb = batch.column("__nb").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            n_frames = 1 + (nb % 7)
            n_samp = (n_frames + every - 1) // every
            rep = np.repeat(np.arange(n, dtype=np.int64), n_samp)
            # frame_idx within each row: 0, every, 2*every, ...
            starts = np.concatenate([[0], np.cumsum(n_samp)[:-1]])
            fi = (np.arange(rep.size, dtype=np.int64)
                  - np.repeat(starts, n_samp)) * every
            fp = xxh64_u64(seeds[rep] ^ fi.view(np.uint64))
            m = rep.size
            offsets = pa.array(np.arange(0, (m + 1) * 8, 8, dtype=np.int32))
            frames = pa.Array.from_buffers(
                pa.binary(), m,
                [None, offsets.buffers()[1], pa.py_buffer(fp.tobytes())])
            idx = pa.array(rep)
            names = [nm for nm in batch.schema.names if nm in cols]
            out_cols = [pc.take(batch.column(batch.schema.names.index(nm)),
                                idx) for nm in names]
            yield pa.record_batch(
                out_cols + [pa.array(fi.astype(np.int32), pa.int32()), frames],
                names=names + ["frame_idx", "frame"])

    return base.mapInArrow(run, schema)
