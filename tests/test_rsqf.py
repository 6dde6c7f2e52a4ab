"""Behavioral tests for the RSQF Filter, mirroring the reference suite
(/root/reference/src/lib.rs:1461-1964) and the fuzz oracles
(fuzz/fuzz_targets/*.rs) per FIXTURES.md F2/F3.
"""

import random

import numpy as np
import pytest

from qfilter_spark import (
    CapacityExceeded,
    Filter,
    IncompatibleFingerprintSize,
    NotEnoughFingerprintBits,
)
from qfilter_spark import params


# ---------------------------------------------------------------------------
# parameter math (src/lib.rs:399-414, 530-567; FIXTURES F2 capacity edges)
# ---------------------------------------------------------------------------

def test_capacity_edge_cases():
    # mirrors test_capacity_edge_cases (src/lib.rs:1924-1940)
    for n in range(1, 33):
        slots = 1 << n
        cap = params.div_ceil(slots * 19, 20)
        f = Filter.new(cap, 0.01)
        assert f.capacity() >= cap
        if n >= 6:
            assert f.total_buckets() == slots, (n, f.total_buckets())
        f2 = Filter.new(cap + 1, 0.01)
        assert f2.capacity() >= cap + 1
        assert f2.total_buckets() == max(64, slots * 2)


def test_min_sizing():
    f = Filter.new(0, 0.01)
    assert f.total_buckets() == 64
    assert f.capacity() == params.div_ceil(64 * 19, 20)
    f = Filter.new(1, 0.01)
    assert f.total_buckets() == 64


def test_max_capacity():
    # mirrors test_max_capacity (src/lib.rs:1942-1963)
    assert params.MAX_CAPACITY == ((1 << 59) * 19 + 19) // 20
    with pytest.raises(Exception):
        Filter.new(params.MAX_CAPACITY * 2, 0.01)


def test_rbits_from_fp_rate():
    assert Filter.new(100, 0.01).rbits == 7   # round(6.64) = 7
    assert Filter.new(100, 0.001).rbits == 10
    assert Filter.new(100, 0.5).rbits == 1
    assert Filter.new(100, 0.9).rbits == 1    # clamped to 0.5
    f = Filter.new(100, 0.01)
    assert f.max_error_ratio() == 2.0 ** -7


def test_resizeable_extra_rbits():
    # fp applies when fully grown: rbits = base + (max_qbits - qbits)
    f = Filter.new_resizeable(100, 100_000, 0.01)
    base = Filter.new(100_000, 0.01)
    assert f.fingerprint_size() == f.qbits + f.rbits
    assert f.max_error_ratio_resizeable() == base.max_error_ratio()
    assert f.max_qbits == base.qbits


def test_with_fingerprint_size_params():
    with pytest.raises(NotEnoughFingerprintBits):
        Filter.with_fingerprint_size(100, 6)
    with pytest.raises(NotEnoughFingerprintBits):
        Filter.with_fingerprint_size(100, 65)
    with pytest.raises(NotEnoughFingerprintBits):
        Filter.with_fingerprint_size(1 << 20, 7)  # fp_bits <= qbits
    f = Filter.with_fingerprint_size(100, 16)
    assert f.fingerprint_size() == 16
    assert f.max_qbits == min(f.qbits + f.rbits - 1, 59)


# ---------------------------------------------------------------------------
# membership: no false negatives + FPR bound (test_it_works, src/lib.rs:1756-1773)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("fp_rate", [0.01, 0.001, 0.0001])
def test_it_works(fp_rate):
    cap = 100_000
    f = Filter.new(cap, fp_rate)
    n = f.capacity()
    items = np.arange(n, dtype=np.int64)
    from qfilter_spark.hashing import xxh64_i64
    f.insert_hashes(xxh64_i64(items))
    assert len(f) == n
    # zero false negatives
    assert f.contains_hashes(xxh64_i64(items)).all()
    # FPR over 50k absent probes
    absent = np.arange(10_000_000, 10_050_000, dtype=np.int64)
    fpr = f.contains_hashes(xxh64_i64(absent)).mean()
    assert fpr <= f.max_error_ratio(), (fpr, f.max_error_ratio())


def test_insert_set_semantics():
    f = Filter.new(100, 0.01)
    assert f.insert(42) is True
    assert f.insert(42) is False
    assert len(f) == 1
    assert f.contains(42)
    assert not f.contains(43)


def test_insert_duplicated_counting():
    # mirrors test_insert_duplicated (src/lib.rs:1557-1599)
    f = Filter.new(200, 0.0001)
    for i in range(50):
        for _ in range(i % 4 + 1):
            f.insert_duplicated(i)
    for i in range(50):
        assert f.count(i) >= i % 4 + 1


def test_insert_counting_max_count():
    f = Filter.new(100, 0.0001)
    assert f.insert_counting(3, "x") == 0
    assert f.insert_counting(3, "x") == 1
    assert f.insert_counting(3, "x") == 2
    assert f.insert_counting(3, "x") == 3  # capped, not inserted
    assert len(f) == 3
    assert f.count("x") == 3


# ---------------------------------------------------------------------------
# remove (test_remove*, src/lib.rs:1687-1754)
# ---------------------------------------------------------------------------

def test_remove_interleaved():
    f = Filter.new(1000, 0.001)
    n = f.capacity()
    for i in range(n):
        f.insert_duplicated(i % 100)
    assert len(f) == n
    removed = 0
    for i in range(n):
        assert f.remove(i % 100), i
        removed += 1
    assert len(f) == 0
    assert not f.remove(3)


def test_remove_returns_false_when_absent():
    f = Filter.new(100, 0.0001)
    f.insert(1)
    assert not f.remove(2)
    assert f.remove(1)
    assert not f.contains(1)


# ---------------------------------------------------------------------------
# growth (test_auto_resize_*, src/lib.rs:1601-1650)
# ---------------------------------------------------------------------------

def test_auto_resize_grows_and_keeps_items():
    f = Filter.new_resizeable(50, 1000, 0.01)
    q0 = f.qbits
    fs0 = f.fingerprint_size()
    for i in range(900):
        f.insert_duplicated(i)
    assert f.qbits > q0
    assert f.fingerprint_size() == fs0  # invariant through growth
    for i in range(900):
        assert f.contains(i), i
    assert len(f) == 900


def test_auto_resize_to_max_then_error():
    f = Filter.new_resizeable(0, 100, 0.01)
    cap_max = f.capacity_resizeable()
    i = 0
    with pytest.raises(CapacityExceeded):
        while True:
            f.insert_duplicated(i)
            i += 1
    assert i >= 100
    assert len(f) == f.capacity() == cap_max


def test_fixed_filter_does_not_grow():
    f = Filter.new(100, 0.01)
    cap = f.capacity()
    with pytest.raises(CapacityExceeded):
        for i in range(cap + 1):
            f.insert_duplicated(i)
    assert len(f) == cap


def test_grow_without_remainder_bits_raises():
    # grow() trades one remainder bit for one quotient bit; with rbits == 1
    # it must refuse with the named error (also under python -O) and leave
    # the filter as it was
    f = Filter(10, 1)
    with pytest.raises(NotEnoughFingerprintBits):
        f.grow()
    assert (f.qbits, f.rbits) == (10, 1)


def test_batch_insert_grows():
    from qfilter_spark.hashing import xxh64_i64
    f = Filter.new_resizeable(50, 10_000, 0.01)
    hashes = xxh64_i64(np.arange(9000, dtype=np.int64))
    f.insert_hashes(hashes)
    assert len(f) == 9000
    assert f.contains_hashes(hashes).all()


def test_shrink_to_fit():
    f = Filter.new(1000, 0.01)
    for i in range(10):
        f.insert_duplicated(i)
    q0, r0 = f.qbits, f.rbits
    f.shrink_to_fit()
    assert f.qbits < q0 and f.rbits > r0
    assert f.fingerprint_size() == q0 + r0
    for i in range(10):
        assert f.contains(i)


# ---------------------------------------------------------------------------
# fingerprints roundtrip (test_with_fingerprint_size, src/lib.rs:1790-1819)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("bits", [7, 16, 24, 31, 49, 64])
def test_fingerprint_roundtrip(bits):
    f = Filter.with_fingerprint_size(0, bits)  # qbits=6 so bits=7 is legal
    edge = [0, 1, 0x777777777777, 2**32 - 2, 2**32 - 1, 2**64 - 2, 2**64 - 1,
            1, 2**64 - 1]
    for h in edge:
        f.insert_fingerprint(True, h)
    mask = (1 << bits) - 1
    want = sorted(h & mask for h in edge)
    got = sorted(int(x) for x in f.fingerprints())
    assert got == want
    assert len(f) == len(edge)
    # fingerprints ascending (src/lib.rs:1306)
    fps = f.fingerprints()
    assert (np.diff(fps.astype(np.uint64)) >= 0).all() if fps.size else True


# ---------------------------------------------------------------------------
# merge (test_merge, src/lib.rs:1821-1876; FIXTURES F5)
# ---------------------------------------------------------------------------

def test_merge_compatibility_matrix():
    small = Filter.with_fingerprint_size(100, 10)
    large = Filter.with_fingerprint_size(100, 12)
    for i in range(50):
        large.insert_duplicated(i)
    # larger fingerprint merges INTO smaller
    small.merge(True, large)
    assert len(small) == 50
    for i in range(50):
        assert small.contains(i)
    # reverse direction errors
    with pytest.raises(IncompatibleFingerprintSize):
        large.merge(True, small)


def test_merge_dedup_vs_keep():
    a = Filter.new(1000, 0.0001)
    b = Filter.new(1000, 0.0001)
    for i in range(100):
        a.insert_duplicated(i)
        b.insert_duplicated(i)  # same items
        b.insert_duplicated(i + 1000)
    a_keep = Filter.from_bytes(a.to_bytes())
    a_keep.merge(True, b)
    assert len(a_keep) == 300
    a_dedup = Filter.from_bytes(a.to_bytes())
    a_dedup.merge(False, b)
    assert len(a_dedup) == 200  # 100 shared skipped, 100 new admitted
    for i in range(100):
        assert a_dedup.contains(i) and a_dedup.contains(i + 1000)


def test_merge_capacity_exceeded_leaves_valid_full():
    a = Filter.new(100, 0.01)
    b = Filter.new(1000, 0.01)
    # same fingerprint config requirement: b must have >= fp size
    assert b.fingerprint_size() >= a.fingerprint_size()
    for i in range(800):
        b.insert_duplicated(i)
    with pytest.raises(CapacityExceeded):
        a.merge(True, b)
    assert len(a) == a.capacity()
    # still a valid filter: everything admitted is contained
    fps = a.fingerprints()
    assert fps.size == a.capacity()


def test_merge_associative_commutative():
    rng = np.random.default_rng(3)
    from qfilter_spark.hashing import xxh64_i64
    parts = [xxh64_i64(rng.integers(0, 10_000, size=500).astype(np.int64))
             for _ in range(6)]

    def build(order):
        f = Filter.new(6 * 500, 0.001)
        for i in order:
            p = Filter.new(6 * 500, 0.001)
            p.insert_hashes(parts[i])
            f.merge(True, p)
        return f

    ref = build(range(6))
    for perm in ([5, 4, 3, 2, 1, 0], [2, 0, 4, 1, 5, 3]):
        alt = build(perm)
        assert np.array_equal(ref.fingerprints(), alt.fingerprints())


# ---------------------------------------------------------------------------
# serde (test_serde, src/lib.rs:1878-1902)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("fmt", ["blocks", "fps"])
def test_serde_roundtrip(fmt):
    f = Filter.new_resizeable(100, 500, 0.001)
    for i in range(400):
        f.insert_duplicated(i)
    blob = f.to_bytes(fmt)
    g = Filter.from_bytes(blob)
    assert g.qbits == f.qbits and g.rbits == f.rbits and g.max_qbits == f.max_qbits
    assert len(g) == len(f)
    assert np.array_equal(g.fingerprints(), f.fingerprints())
    for i in range(400):
        assert g.contains(i)


def test_serde_empty():
    f = Filter.new(100, 0.01)
    g = Filter.from_bytes(f.to_bytes())
    assert len(g) == 0 and g.qbits == f.qbits


# ---------------------------------------------------------------------------
# model-based op sequences (FIXTURES F3; fuzz_qfilter.rs / fuzz_fingerprint.rs)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", range(40))
def test_model_based_ops(seed):
    rng = random.Random(seed)
    cap = rng.randrange(0, 2000)
    max_cap = max(cap, rng.randrange(0, 4000))
    fp_exp = rng.choice([0.01, 0.001, 0.1])
    f = Filter.new_resizeable(cap, max_cap, fp_exp)
    model = {}
    n_ops = rng.randrange(10, 500)
    touched = set()
    for op_i in range(n_ops):
        add = rng.random() < 0.7
        item = rng.randrange(0, 1 << 16)
        if add:
            try:
                f.insert_duplicated(item)
                model[item] = model.get(item, 0) + 1
            except CapacityExceeded:
                pass
        elif model.get(item, 0) > 0:
            # like fuzz_qfilter.rs:41: only remove model-present items
            # (removing absent items may delete colliders — documented)
            if f.remove(item):
                model[item] -= 1
        touched.add(item)
        if op_i % 8 == 0:
            for e in list(touched)[:20]:
                if model.get(e, 0) > 0:
                    assert f.count(e) >= model[e], (e, f.count(e), model[e])
    # final: count >= model, no false negatives
    for e, c in model.items():
        if c > 0:
            assert f.count(e) >= c
            assert f.contains(e)
    assert len(f) == sum(model.values())
    f.shrink_to_fit()
    for e, c in model.items():
        if c > 0:
            assert f.count(e) >= c


@pytest.mark.parametrize("seed", range(20))
def test_model_based_fingerprints_exact_multiset(seed):
    # mirrors fuzz_fingerprint.rs:59-70 — strictest invariant
    rng = random.Random(1000 + seed)
    bits = rng.choice([8, 10, 16, 24, 32])
    try:
        f = Filter.with_fingerprint_size(rng.randrange(0, 500), bits)
    except NotEnoughFingerprintBits:
        f = Filter.with_fingerprint_size(0, bits)  # capacity needed qbits >= bits
    model = []
    for _ in range(rng.randrange(10, 800)):
        h = rng.randrange(0, 1 << 64)
        if rng.random() < 0.75:
            try:
                f.insert_fingerprint(True, h)
                model.append(h)
            except CapacityExceeded:
                pass
        else:
            if f.remove_fingerprint(h):
                # remove deletes one fp matching h's truncation
                mask = (1 << f.fingerprint_size()) - 1
                for j, m in enumerate(model):
                    if (m & mask) == (h & mask):
                        model.pop(j)
                        break
    mask = (1 << f.fingerprint_size()) - 1
    want = sorted(m & mask for m in model)
    got = sorted(int(x) for x in f.fingerprints())
    assert got == want
    assert len(f) == len(model)


def test_remove_hashes_batch_matches_sequential():
    from qfilter_spark.hashing import xxh64_i64
    rng = np.random.default_rng(17)
    items = rng.integers(0, 300, size=2000).astype(np.int64)
    hashes = xxh64_i64(items)
    f1 = Filter.new(4000, 0.001)
    f1.insert_hashes(hashes)
    f2 = Filter.from_bytes(f1.to_bytes())
    # removal requests: some present many times, some absent
    req_items = np.concatenate([items[:500], np.arange(10_000, 10_100)])
    req = xxh64_i64(req_items.astype(np.int64))
    n_batch = f1.remove_hashes(req)
    n_seq = sum(f2.remove_fingerprint(int(h)) for h in req)
    assert n_batch == n_seq
    assert np.array_equal(f1.fingerprints(), f2.fingerprints())
    assert len(f1) == 2000 - n_batch


@pytest.mark.slow
@pytest.mark.parametrize("seed", range(200))
def test_model_based_ops_full_f3(seed):
    """FIXTURES F3 at full scale: 200 sequences of up to 2000 ops."""
    rng = random.Random(10_000 + seed)
    cap = rng.randrange(0, 2000)
    max_cap = max(cap, rng.randrange(0, 4000))
    fp = 2.0 ** -rng.randrange(1, 16)
    f = Filter.new_resizeable(cap, max_cap, fp)
    model = {}
    for op_i in range(rng.randrange(100, 2000)):
        add = rng.random() < 0.7
        item = rng.randrange(0, 1 << 16)
        if add:
            try:
                f.insert_duplicated(item)
                model[item] = model.get(item, 0) + 1
            except CapacityExceeded:
                continue
        elif model.get(item, 0) > 0 and f.remove(item):
            model[item] -= 1
    for e, c in model.items():
        if c > 0:
            assert f.count(e) >= c
    assert len(f) == sum(model.values())
    f.shrink_to_fit()
    for e, c in model.items():
        if c > 0:
            assert f.count(e) >= c


@pytest.mark.parametrize("fp_rate", [0.2, 0.1, 0.01, 0.001, 0.0001, 0.00001, 0.000001])
def test_fp_rate_grid(fp_rate):
    """FIXTURES F2 fp_rate grid: bound respected at full load (smaller cap)."""
    from qfilter_spark.hashing import xxh64_i64
    f = Filter.new(5000, fp_rate)
    n = f.capacity()
    f.insert_hashes(xxh64_i64(np.arange(n, dtype=np.int64)))
    assert f.contains_hashes(xxh64_i64(np.arange(n, dtype=np.int64))).all()
    absent = xxh64_i64(np.arange(5_000_000, 5_200_000, dtype=np.int64))
    fpr = f.contains_hashes(absent).mean()
    # the 2^-rbits bound is an expected-value bound; allow 3-sigma sampling
    # noise on the observed rate (cap 5000 -> small-sample wobble)
    b = f.max_error_ratio()
    assert fpr <= b + 3 * (b / absent.size) ** 0.5, (fp_rate, fpr, b)


@pytest.mark.parametrize("init,maxcap", [(50, 1000), (100, 500), (0, 100), (100, 100)])
def test_resizeable_grid(init, maxcap):
    """FIXTURES F2 resizeable (init, max) grid."""
    f = Filter.new_resizeable(init, maxcap, 0.01)
    for i in range(maxcap):
        f.insert_duplicated(i)
    assert len(f) == maxcap
    for i in range(maxcap):
        assert f.contains(i)
    assert f.capacity() >= maxcap
    if maxcap > init:
        assert f.max_qbits is None or f.qbits <= (f.max_qbits or f.qbits)


@pytest.mark.parametrize("fp_pair", [(0.01, 0.001), (0.001, 0.0001), (0.01, 0.0001)])
def test_merge_precision_triples(fp_pair):
    """FIXTURES F5: lower-fp (higher-precision) filters merge INTO higher-fp
    ones (their fingerprints are longer); the reverse raises."""
    fp_hi, fp_lo = fp_pair
    coarse = Filter.new(1000, fp_hi)
    fine = Filter.new(1000, fp_lo)
    assert fine.fingerprint_size() > coarse.fingerprint_size()
    for i in range(500):
        fine.insert_duplicated(i)
    coarse.merge(True, fine)
    assert len(coarse) == 500
    for i in range(500):
        assert coarse.contains(i)
    with pytest.raises(IncompatibleFingerprintSize):
        fine.merge(True, coarse)


def test_capped_overflow_prefix_matches_sequential():
    """CapacityExceeded with a finite max_count must leave the SAME state a
    sequential insert_fingerprint_counting loop reaches: the longest-prefix
    cut makes position matter, so the admit mask is recomputed with a stable
    sort on that path (unstable may admit a later duplicate over an earlier
    one — round-5 code-review regression)."""
    rng = np.random.default_rng(5)
    vals = (rng.integers(0, 1 << 40, size=50_000, dtype=np.uint64)
            % np.uint64(997))                       # duplicate-heavy stream
    f_bulk = Filter.new(512, 0.01)
    f_seq = Filter.new(512, 0.01)
    with pytest.raises(CapacityExceeded):
        f_bulk.insert_hashes(vals, max_count=3, auto_grow=False)
    with pytest.raises(CapacityExceeded):
        for h in map(int, vals):
            f_seq.insert_fingerprint_counting(3, h)
    assert len(f_bulk) == len(f_seq) == f_seq.capacity()
    assert f_bulk.fingerprints().tolist() == f_seq.fingerprints().tolist()
