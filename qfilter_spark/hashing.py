"""Stable 64-bit hashing, Spark-compatible.

The reference uses a portable xxh3-64 wrapper (``StableHasher``,
/root/reference/src/stable_hasher.rs:9-99) so answers are stable across
machines. We need the same *property* — a stable, seedable 64-bit hash that
gives identical values on the JVM (``F.xxhash64``) and inside numpy kernels —
but exact xxh3 parity with Rust is NOT required (SURVEY.md §1.3): correctness
criteria (FPR bound, zero false negatives, merge invariance) are
hash-agnostic. We standardize on **XXH64 with seed 42**, which is exactly
what Spark's ``xxhash64()`` SQL function computes, so:

- DataFrame-level hashing (``F.xxhash64(col)``) and numpy-side hashing
  (:func:`xxh64_u64`) agree bit-for-bit for integer columns, and
- :func:`xxh64_bytes` agrees with ``F.xxhash64(string_col)`` for strings.

Spark semantics mirrored here (public Spark source, XxHash64 expression):
- integral types are widened to long and hashed as one 8-byte LE lane;
- strings hash their UTF-8 bytes;
- multi-column ``xxhash64(c1, c2, ...)`` chains: each column's hash seeds
  the next (see :func:`xxh64_u64_chain`).

The numpy kernels are fully vectorized (no per-row Python). One lane mix
(``_xxh64_lane_block``), one combine + avalanche (``_xxh64_combine_block``)
and one chunk loop (:func:`xxh64_u64_chain`; :func:`xxh64_u64` is its
one-column case); the lane-sharing kernels mix each block's lanes once for
the n windows of :func:`xxh64_u64_chain_sliding` or the k seeds of
:func:`xxh64_u64_multi_seed`, the one way to hash a stream under k seeds.
"""

from __future__ import annotations

import numpy as np

SPARK_SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

_M64 = (1 << 64) - 1


_CHUNK = 65536  # keep working set L2-resident: ~10x on this host, where
                # parallel first-touch of large fresh pages is pathological


# Both blocks take arrays (0-d included), whose uint64 arithmetic wraps
# without a warning; only numpy scalars warn on overflow.
def _xxh64_lane_block(v: np.ndarray) -> np.ndarray:
    """The lane mix, seed-independent: k = rotl31(v * P2) * P1."""
    k = v * _P2
    tmp = k >> np.uint64(33)
    np.left_shift(k, np.uint64(31), out=k)
    np.bitwise_or(k, tmp, out=k)
    np.multiply(k, _P1, out=k)
    return k


def _xxh64_combine_block(k: np.ndarray, seed) -> np.ndarray:
    """The seed-dependent combine + avalanche of the lanes ``k``.

    Does NOT modify ``k`` (lanes are shared across windows and seeds).
    """
    seed = np.asarray(seed).astype(np.uint64, copy=False)
    acc = np.bitwise_xor(seed + (_P5 + np.uint64(8)), k)
    tmp = acc >> np.uint64(37)
    np.left_shift(acc, np.uint64(27), out=acc)
    np.bitwise_or(acc, tmp, out=acc)
    np.multiply(acc, _P1, out=acc)
    np.add(acc, _P4, out=acc)
    np.right_shift(acc, np.uint64(33), out=tmp)
    np.bitwise_xor(acc, tmp, out=acc)
    np.multiply(acc, _P2, out=acc)
    np.right_shift(acc, np.uint64(29), out=tmp)
    np.bitwise_xor(acc, tmp, out=acc)
    np.multiply(acc, _P3, out=acc)
    np.right_shift(acc, np.uint64(32), out=tmp)
    np.bitwise_xor(acc, tmp, out=acc)
    return acc


def xxh64_u64(values: np.ndarray, seed=SPARK_SEED) -> np.ndarray:
    """Vectorized XXH64 of each uint64 value as one 8-byte LE lane.

    Matches Spark's ``xxhash64(longCol)`` (XXH64.hashLong). ``seed`` may be a
    scalar or a per-row uint64 array (used for column chaining). The
    one-column case of :func:`xxh64_u64_chain`, shaped like ``values``.
    """
    return xxh64_u64_chain([values], seed)


def xxh64_u64_chain(columns: list[np.ndarray], seed=SPARK_SEED) -> np.ndarray:
    """Spark multi-column xxhash64: hash of col i seeds col i+1.

    Runs in cache-resident blocks of ``_CHUNK`` rows, each block through
    every column (bit-identical to the unblocked computation); the output
    is shaped like ``columns[0]``.
    """
    shape = np.shape(columns[0])
    cols = [np.asarray(c).reshape(-1) for c in columns]
    seed = np.asarray(seed)
    out = np.empty(cols[0].size, dtype=np.uint64)
    for s in range(0, out.size, _CHUNK):
        acc = seed.reshape(-1)[s:s + _CHUNK] if seed.ndim else seed
        for col in cols:
            block = col[s:s + _CHUNK].astype(np.uint64, copy=False)
            acc = _xxh64_combine_block(_xxh64_lane_block(block), acc)
        out[s:s + _CHUNK] = acc
    return out.reshape(shape)


def xxh64_u64_chain_sliding(flat: np.ndarray, n: int,
                            seed=SPARK_SEED) -> np.ndarray:
    """Fused sliding n-gram chain over one flat uint64 array.

    Bit-identical to ``xxh64_u64_chain([flat[k:W+k] for k in range(n)])``
    but computes each element's seed-independent lane hash ONCE instead of
    n times (the n windows containing an element share its lane), in
    cache-resident chunks — and the combine runs over contiguous buffers
    instead of n unaligned strided views. Measured ~6x on 3-grams
    (6.5 -> 41 M n-grams/s/core on this host).
    """
    flat = np.asarray(flat)
    if flat.dtype != np.uint64:
        flat = flat.astype(np.int64).view(np.uint64)
    n_windows = max(flat.size - n + 1, 0)
    out = np.empty(n_windows, dtype=np.uint64)
    for s in range(0, n_windows, _CHUNK):
        e = min(s + _CHUNK, n_windows)
        lanes = _xxh64_lane_block(flat[s:e + n - 1])
        acc = seed
        for k in range(n):
            acc = _xxh64_combine_block(lanes[k:k + (e - s)], acc)
        out[s:e] = acc
    return out


def xxh64_u64_multi_seed(values: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """``[xxh64_u64(values, s) for s in seeds]`` stacked as (k, n) — with
    the seed-independent lane mix computed ONCE for all k seeds.

    This is the MinHash inner loop (k permutations of the same hash
    stream); lane reuse saves the v*P2/rotl31/*P1 work k-1 times.
    Bit-identical to the per-seed calls.
    """
    v = np.asarray(values)
    if v.dtype != np.uint64:
        v = v.astype(np.int64).view(np.uint64)
    seeds = np.asarray(seeds, dtype=np.uint64)
    out = np.empty((seeds.size, v.size), dtype=np.uint64)
    for s in range(0, v.size, _CHUNK):
        lanes = _xxh64_lane_block(v[s:s + _CHUNK])
        for i, sd in enumerate(seeds):
            out[i, s:s + _CHUNK] = _xxh64_combine_block(lanes, sd)
    return out


def xxh64_i64(values: np.ndarray, seed=SPARK_SEED) -> np.ndarray:
    """Signed int64 view convenience (Spark longs are signed)."""
    return xxh64_u64(np.asarray(values).astype(np.int64).view(np.uint64), seed)


def to_i64(hashes_u64: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 hashes as Spark's signed longs."""
    return hashes_u64.view(np.int64)


# ---------------------------------------------------------------------------
# Generic-bytes XXH64 (pure Python; used for string parity tests and the
# single-node reference path at test scale — hot paths hash integer columns
# with the vectorized kernel above or with F.xxhash64 on the JVM).
# ---------------------------------------------------------------------------

def _rotl_i(x: int, n: int) -> int:
    return ((x << n) | (x >> (64 - n))) & _M64


_P1i, _P2i, _P3i, _P4i, _P5i = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2i) & _M64
    acc = _rotl_i(acc, 31)
    return (acc * _P1i) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1i + _P4i) & _M64


def xxh64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Reference XXH64 over a byte string; returns unsigned 64-bit int.

    Matches Spark's ``xxhash64(stringCol)`` on the string's UTF-8 bytes.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1i + _P2i) & _M64
        v2 = (seed + _P2i) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1i) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        acc = (_rotl_i(v1, 1) + _rotl_i(v2, 7) + _rotl_i(v3, 12) + _rotl_i(v4, 18)) & _M64
        acc = _merge_round(acc, v1)
        acc = _merge_round(acc, v2)
        acc = _merge_round(acc, v3)
        acc = _merge_round(acc, v4)
    else:
        acc = (seed + _P5i) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rotl_i(acc, 27) * _P1i + _P4i) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i : i + 4], "little") * _P1i) & _M64
        acc = (_rotl_i(acc, 23) * _P2i + _P3i) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * _P5i) & _M64
        acc = (_rotl_i(acc, 11) * _P1i) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2i) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3i) & _M64
    acc ^= acc >> 32
    return acc


def xxh64_str(s: str, seed: int = SPARK_SEED) -> int:
    return xxh64_bytes(s.encode("utf-8"), seed)


def hash_obj(item, seed: int = SPARK_SEED) -> int:
    """Hash a Python scalar (or composite) the way Spark columns would.

    ints -> 8-byte LE lane (Spark long); floats -> the IEEE754 long bits
    of the DOUBLE (Spark DoubleType lane: -0.0 normalized to 0.0, NaN to
    the canonical Java ``doubleToLongBits`` pattern 0x7ff8…; np.float32
    is promoted, matching ``F.xxhash64(col.cast("double"))``); str ->
    UTF-8 bytes; bytes -> bytes; None -> the lane is SKIPPED (Spark hashes
    null columns by passing the seed through unchanged). Tuples/lists
    chain element hashes the way ``F.xxhash64(c1, c2, ...)`` chains
    columns (each element's hash seeds the next lane; nested sequences
    flatten into the chain) — the generic ``T: Hash`` analog for composite
    keys (reference src/lib.rs:973, stable_hasher.rs:60-65; our family is
    Spark-parity XXH64, a documented deviation — SURVEY.md §1.3).
    """
    import struct as _struct

    if isinstance(item, bool):
        raise TypeError("hash bools explicitly as ints")
    if item is None:
        return int(seed)  # null lane: seed passes through (Spark semantics)
    if isinstance(item, (int, np.integer)):
        return int(xxh64_u64(np.asarray([np.uint64(int(item) & _M64)]), seed)[0])
    if isinstance(item, (float, np.floating)):
        d = float(item)
        if d != d:
            bits = 0x7FF8000000000000  # canonical NaN (doubleToLongBits)
        else:
            if d == 0.0:
                d = 0.0  # normalize -0.0 (SPARK-27619)
            bits = _struct.unpack("<Q", _struct.pack("<d", d))[0]
        return int(xxh64_u64(np.asarray([np.uint64(bits)]), seed)[0])
    if isinstance(item, str):
        return xxh64_str(item, seed)
    if isinstance(item, (bytes, bytearray)):
        return xxh64_bytes(bytes(item), seed)
    if isinstance(item, (tuple, list)):
        if not item:
            raise TypeError("cannot hash an empty composite key")
        acc = int(seed)
        for part in item:
            acc = hash_obj(part, acc)  # each hash seeds the next lane
        return acc
    raise TypeError(f"unhashable item type for stable hashing: {type(item)}")


def u64_hashes_from_arrow(col, context: str) -> "np.ndarray":
    """An int64 Arrow column as uint64 hashes, refusing NULLs.

    Arrow's to_numpy casts NULL through float NaN to INT64_MIN with only a
    RuntimeWarning — the same laundering as the pandas variant below; the
    ONE shared helper keeps the refusal contract identical on the build,
    probe, count, and remove paths.
    """
    if col.null_count:
        raise ValueError(
            f"{context}: {col.null_count} NULL values in the hash column; "
            "filter them out first")
    return col.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)


def u64_hashes_from_pandas(ser, context: str) -> "np.ndarray":
    """An int64 pandas Series as a uint64 hash array, refusing NULLs.

    pandas casts NaN (a NULL hash) to INT64_MIN with only a RuntimeWarning,
    silently laundering every missing value into the same garbage
    fingerprint. The probe side refuses NULLs (dist.probe.probe_hashes);
    the build/stream sides must refuse symmetrically or a NULL-polluted
    build would later make the probe's refusal look like the bug.
    """
    na = ser.isna()
    if na.any():
        raise ValueError(
            f"{context}: {int(na.sum())} NULL values in hash column "
            f"{ser.name!r}; filter them out before building")
    return ser.to_numpy(dtype=np.int64).view(np.uint64)
