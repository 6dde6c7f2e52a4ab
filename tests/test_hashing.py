"""Hash parity: numpy/pure-python XXH64 vs Spark's xxhash64.

Expected values below were produced by Spark 4.1.2 ``F.xxhash64`` (seed 42)
and hardcoded so the fast suite needs no JVM; tests/test_dist.py re-checks
parity live inside a SparkSession.
"""

import numpy as np

from qfilter_spark.hashing import (
    _CHUNK,
    to_i64,
    xxh64_bytes,
    xxh64_i64,
    xxh64_str,
    xxh64_u64,
    xxh64_u64_chain,
    xxh64_u64_chain_sliding,
    xxh64_u64_multi_seed,
)

SPARK_LONG_VECTORS = {
    0: -5252525462095825812,
    1: -7001672635703045582,
    -1: 3858142552250413010,
}

SPARK_STR_VECTORS = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "hello": -4367754540140381902,
    "hello world this is a longer string exceeding 32 bytes for stripe path":
        8918787915325306146,
    "héllo ünïcode ✓": 4009359668559222506,
}


def test_long_parity_with_spark_vectors():
    vals = np.array(list(SPARK_LONG_VECTORS), dtype=np.int64)
    got = to_i64(xxh64_u64(vals.view(np.uint64)))
    assert list(got) == list(SPARK_LONG_VECTORS.values())


def test_str_parity_with_spark_vectors():
    for s, want in SPARK_STR_VECTORS.items():
        assert np.int64(np.uint64(xxh64_str(s))) == want


def test_bytes_matches_8byte_kernel():
    rng = np.random.default_rng(0)
    vals = rng.integers(0, 2**63, size=100, dtype=np.int64)
    vec = xxh64_u64(vals.view(np.uint64))
    for v, h in zip(vals, vec):
        assert xxh64_bytes(int(v).to_bytes(8, "little")) == int(h)


def test_chain_uses_previous_as_seed():
    a = np.array([1], dtype=np.uint64)
    b = np.array([2], dtype=np.uint64)
    h1 = xxh64_u64(a)
    chained = xxh64_u64_chain([a, b])
    assert chained[0] == xxh64_u64(b, h1)[0]


def test_i64_wrapper():
    v = np.array([-5], dtype=np.int64)
    assert xxh64_i64(v)[0] == xxh64_u64(v.view(np.uint64))[0]


def test_vector_seed_broadcast():
    vals = np.arange(4, dtype=np.uint64)
    seeds = np.arange(4, dtype=np.uint64)
    out = xxh64_u64(vals, seeds)
    for i in range(4):
        assert out[i] == xxh64_u64(vals[i : i + 1], int(seeds[i]))[0]


# Spark 4.1.2 F.xxhash64 vectors for DoubleType lanes (seed 42):
# doubles hash their IEEE754 long bits, -0.0 normalized to 0.0
# (SPARK-27619), NaN canonicalized (Java doubleToLongBits); a NULL column
# passes the seed through unchanged.
SPARK_DOUBLE_VECTORS = {
    1.5: 7738255526519901366,
    0.0: -5252525462095825812,
    -0.0: -5252525462095825812,
    float("nan"): -3127944061524951246,
}


def test_hash_obj_floats_match_spark_vectors():
    from qfilter_spark.hashing import hash_obj, to_i64

    for v, want in SPARK_DOUBLE_VECTORS.items():
        assert int(np.int64(np.uint64(hash_obj(v)))) == want
    assert hash_obj(np.float32(1.5)) == hash_obj(1.5)  # promoted to double
    assert hash_obj(np.float64(-0.0)) == hash_obj(0.0)


def test_hash_obj_none_and_nested():
    from qfilter_spark.hashing import SPARK_SEED, hash_obj

    # a null lane passes the seed through: top-level None == seed,
    # None inside a composite is a no-op lane
    assert hash_obj(None) == SPARK_SEED
    assert hash_obj((1, None, "a")) == hash_obj((1, "a"))
    assert hash_obj((None, 7)) == hash_obj(7)
    # nested sequences flatten into the same lane chain
    assert hash_obj((1, (2.5, "x"), b"y")) == hash_obj((1, 2.5, "x", b"y"))
    # mixed-type chain is order-sensitive
    assert hash_obj((1, "a")) != hash_obj(("a", 1))


# Inputs longer than two kernel blocks: every entry point is checked
# against the pure-Python reference on both sides of both block edges.
N_EDGE = 2 * _CHUNK + 3
EDGE_ROWS = [0, 1, _CHUNK - 1, _CHUNK, _CHUNK + 1,
             2 * _CHUNK - 1, 2 * _CHUNK, N_EDGE - 1]


def _ref_lane(value, seed) -> int:
    """XXH64 of one 8-byte LE lane, by the pure-Python reference."""
    return xxh64_bytes(int(value).to_bytes(8, "little"), int(seed))


def test_u64_across_chunk_edges():
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 2**64, N_EDGE, dtype=np.uint64)
    seeds = rng.integers(0, 2**64, N_EDGE, dtype=np.uint64)
    scalar, per_row = xxh64_u64(vals), xxh64_u64(vals, seeds)
    assert scalar.shape == per_row.shape == (N_EDGE,)
    for i in EDGE_ROWS:
        assert int(scalar[i]) == _ref_lane(vals[i], 42)
        assert int(per_row[i]) == _ref_lane(vals[i], seeds[i])


def test_chain_across_chunk_edges():
    rng = np.random.default_rng(12)
    cols = [rng.integers(0, 2**64, N_EDGE, dtype=np.uint64) for _ in range(3)]
    out = xxh64_u64_chain(cols)
    assert out.shape == (N_EDGE,)
    for i in EDGE_ROWS:
        acc = 42
        for col in cols:
            acc = _ref_lane(col[i], acc)
        assert int(out[i]) == acc


def test_sliding_across_chunk_edges():
    n = 3
    rng = np.random.default_rng(13)
    tokens = rng.integers(-2**40, 2**40, N_EDGE + n - 1, dtype=np.int64)
    assert (tokens < 0).any()
    got = xxh64_u64_chain_sliding(tokens, n)
    u = tokens.view(np.uint64)
    assert np.array_equal(got, xxh64_u64_chain([u[k:k + N_EDGE] for k in range(n)]))
    for i in EDGE_ROWS:
        acc = 42
        for k in range(n):
            acc = _ref_lane(u[i + k], acc)
        assert int(got[i]) == acc


def test_multi_seed_across_chunk_edges():
    rng = np.random.default_rng(14)
    vals = rng.integers(0, 2**64, N_EDGE, dtype=np.uint64)
    seeds = np.uint64(0xC5EED) + np.arange(5, dtype=np.uint64)
    got = xxh64_u64_multi_seed(vals, seeds)
    assert np.array_equal(got, np.stack([xxh64_u64(vals, s) for s in seeds]))
    for i in EDGE_ROWS:
        assert int(got[4, i]) == _ref_lane(vals[i], seeds[4])


def test_output_shape_follows_input():
    from qfilter_spark.hashing import hash_obj

    for v in (np.empty(0, dtype=np.uint64), np.asarray([np.uint64(7)]),
              np.arange(6, dtype=np.uint64).reshape(2, 3)):
        assert xxh64_u64(v).shape == v.shape
        assert xxh64_u64(v, 2**64 - 1).shape == v.shape  # hash_obj's seeds
        assert xxh64_u64_chain([v, v]).shape == v.shape
    assert hash_obj(7) == _ref_lane(7, 42)
    assert hash_obj((7, 8)) == _ref_lane(8, _ref_lane(7, 42))
