"""Sibling sketches: error bounds vs exact answers, merge laws, codec.

Merge laws per SURVEY.md §2.3: Bloom = bit union, HLL = register max,
CMS = elementwise +, KLL/t-digest = compactor/centroid merge (error-bound
checked, not bit-equality).
"""

import numpy as np
import pytest

from qfilter_spark.hashing import xxh64_i64
from qfilter_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HllSketch,
    KllSketch,
    TDigest,
    RsqfSketch,
    create,
    loads,
)


def hashes_of(ints):
    return xxh64_i64(np.asarray(ints, dtype=np.int64))


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fpr():
    n = 20_000
    bf = BloomFilter.create(n, 0.01)
    items = hashes_of(np.arange(n))
    bf.update_hashes(items)
    assert bf.contains_hashes(items).all()
    absent = hashes_of(np.arange(10_000_000, 10_050_000))
    fpr = bf.contains_hashes(absent).mean()
    assert fpr <= 0.02, fpr  # 2x slack over configured 1%


def test_bloom_rejects_bad_geometry():
    # a geometry its own blob decoder refuses is refused at construction
    for m_bits, k in ((100, 3), (0, 3), (128, 0)):
        with pytest.raises(ValueError, match="Bloom geometry"):
            BloomFilter(m_bits=m_bits, k=k)


def test_bloom_merge_is_union():
    bf1, bf2 = BloomFilter.create(1000, 0.01), BloomFilter.create(1000, 0.01)
    bf1.update_hashes(hashes_of(np.arange(0, 500)))
    bf2.update_hashes(hashes_of(np.arange(500, 1000)))
    bf1.merge(bf2)
    assert bf1.contains_hashes(hashes_of(np.arange(1000))).all()
    with pytest.raises(ValueError):
        bf1.merge(BloomFilter.create(5000, 0.001))


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("true_n", [100, 5_000, 200_000])
def test_hll_estimate_within_bound(true_n):
    h = HllSketch.create(p=14)
    h.update_hashes(hashes_of(np.arange(true_n)))
    est = h.estimate()
    rsd = h.relative_sd()
    assert abs(est - true_n) <= 4 * rsd * true_n + 2, (est, true_n)


@pytest.mark.parametrize("p", [3, 19, 20])
def test_hll_rejects_precision_out_of_range(p):
    # the decoder accepts 4..18 only, so create() refuses the rest rather
    # than build a sketch whose own blob would not load
    with pytest.raises(ValueError, match="precision"):
        create("hll", p=p)


def test_hll_merge_max_and_idempotent():
    a, b = HllSketch.create(p=12), HllSketch.create(p=12)
    a.update_hashes(hashes_of(np.arange(0, 30_000)))
    b.update_hashes(hashes_of(np.arange(15_000, 50_000)))
    a.merge(b)
    est = a.estimate()
    assert abs(est - 50_000) <= 4 * a.relative_sd() * 50_000
    # idempotent: merging the same registers again changes nothing
    before = a.registers.copy()
    a.merge(a)
    assert np.array_equal(a.registers, before)


# ---------------------------------------------------------------------------
# CMS
# ---------------------------------------------------------------------------

def test_cms_overestimates_within_eps():
    cms = CountMinSketch.create(eps=0.001, delta=0.01)
    rng = np.random.default_rng(0)
    items = rng.zipf(1.3, size=100_000).astype(np.int64)
    items = items[items < 10_000]
    cms.update_hashes(hashes_of(items))
    uniq, true_counts = np.unique(items, return_counts=True)
    est = cms.estimate_hashes(hashes_of(uniq))
    assert (est >= true_counts).all()
    assert (est <= true_counts + cms.eps() * items.size + 1).all()


def test_cms_merge_is_additive():
    a = CountMinSketch.create(eps=0.01, delta=0.05)
    b = CountMinSketch.create(eps=0.01, delta=0.05)
    a.update_hashes(hashes_of([1, 1, 2]))
    b.update_hashes(hashes_of([1, 3]))
    a.merge(b)
    est = a.estimate_hashes(hashes_of([1, 2, 3]))
    assert (est >= np.array([3, 1, 1])).all()
    assert a.n_total == 5


def test_cms_weighted_update():
    cms = CountMinSketch.create(eps=0.01, delta=0.05)
    cms.update_hashes(hashes_of([7]), weights=np.array([41]))
    assert cms.estimate_hashes(hashes_of([7]))[0] >= 41


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("dist", ["uniform", "lognormal", "bimodal"])
def test_kll_rank_error(dist):
    rng = np.random.default_rng(42)
    n = 50_000
    if dist == "uniform":
        data = rng.uniform(0, 1000, n)
    elif dist == "lognormal":
        data = rng.lognormal(3, 2, n)
    else:
        data = np.concatenate([rng.normal(0, 1, n // 2), rng.normal(100, 5, n // 2)])
    sk = KllSketch.create(k=200)
    for chunk in np.array_split(data, 10):
        sk.update_values(chunk)
    assert sk.n == n
    s = np.sort(data)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est = sk.quantile(q)
        true_rank = np.searchsorted(s, est, side="right") / n
        assert abs(true_rank - q) <= 0.025, (dist, q, true_rank)


def test_kll_decode_rejects_negative_level_size():
    """Round-5 review: level sizes are signed int64 on the wire; a corrupt
    negative size would make np.frombuffer(count=-1) silently consume the
    rest of the buffer instead of failing."""
    import struct

    sk = KllSketch.create(k=200)
    sk.update_values(np.arange(1000, dtype=np.float64))
    blob = bytearray(sk.to_bytes())
    # layout: 4B magic+kind, 13B (k,n,num_levels) header, 8B flags,
    # then int64 level sizes — corrupt the first one
    sizes_off = 4 + 13 + 8
    blob[sizes_off:sizes_off + 8] = struct.pack("<q", -1)
    with pytest.raises(ValueError, match="negative level size"):
        loads(bytes(blob))


def test_kll_merge_preserves_bound():
    rng = np.random.default_rng(1)
    parts = [rng.uniform(0, 1, 20_000) for _ in range(4)]
    sks = []
    for p in parts:
        s = KllSketch.create(k=200)
        s.update_values(p)
        sks.append(s)
    merged = sks[0]
    for s in sks[1:]:
        merged.merge(s)
    alldata = np.sort(np.concatenate(parts))
    assert merged.n == alldata.size
    for q in [0.1, 0.5, 0.9]:
        est = merged.quantile(q)
        true_rank = np.searchsorted(alldata, est) / alldata.size
        assert abs(true_rank - q) <= 0.03, (q, true_rank)


# ---------------------------------------------------------------------------
# t-digest
# ---------------------------------------------------------------------------

def test_tdigest_quantiles_accurate_tails():
    rng = np.random.default_rng(2)
    data = rng.lognormal(4, 1.5, 100_000)
    td = TDigest.create(compression=200)
    for chunk in np.array_split(data, 20):
        td.update_values(chunk)
    s = np.sort(data)
    for q in [0.001, 0.01, 0.5, 0.99, 0.999]:
        est = td.quantile(q)
        true_rank = np.searchsorted(s, est) / s.size
        tol = 0.005 if q in (0.5,) else 0.002
        assert abs(true_rank - q) <= tol, (q, true_rank)


def test_tdigest_merge():
    rng = np.random.default_rng(3)
    parts = [rng.normal(0, 1, 25_000) for _ in range(4)]
    tds = []
    for p in parts:
        t = TDigest.create(compression=200)
        t.update_values(p)
        tds.append(t)
    m = tds[0]
    for t in tds[1:]:
        m.merge(t)
    s = np.sort(np.concatenate(parts))
    assert m.n == s.size
    for q in [0.05, 0.5, 0.95]:
        est = m.quantile(q)
        true_rank = np.searchsorted(s, est) / s.size
        assert abs(true_rank - q) <= 0.01, (q, true_rank)
    # centroid count bounded by compression
    assert m.means.size <= 2 * m.compression


# ---------------------------------------------------------------------------
# codec + factory
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("kind,params,update", [
    ("rsqf", dict(capacity=1000, fp_rate=0.01), "hashes"),
    ("bloom", dict(capacity=1000, fp_rate=0.01), "hashes"),
    ("hll", dict(p=12), "hashes"),
    ("cms", dict(eps=0.01, delta=0.05), "hashes"),
    ("kll", dict(k=128), "values"),
    ("tdigest", dict(compression=100), "values"),
])
def test_serde_roundtrip_all_kinds(kind, params, update):
    sk = create(kind, **params)
    if update == "hashes":
        sk.update_hashes(hashes_of(np.arange(500)))
    else:
        sk.update_values(np.linspace(0, 1, 500))
    blob = sk.to_bytes()
    back = loads(blob)
    assert type(back) is type(sk)
    assert back.to_bytes() == blob  # stable re-encode
    if update == "hashes" and hasattr(sk, "contains_hashes"):
        probe = hashes_of(np.arange(500))
        assert np.array_equal(back.contains_hashes(probe), sk.contains_hashes(probe))


def test_merge_order_invariance_hash_sketches():
    """north_rule: identical answers regardless of merge order."""
    rng = np.random.default_rng(9)
    parts = [hashes_of(rng.integers(0, 100_000, 5000)) for _ in range(5)]
    for kind, params in [("rsqf", dict(capacity=30_000, fp_rate=0.01)),
                         ("bloom", dict(capacity=30_000, fp_rate=0.01)),
                         ("hll", dict(p=12)),
                         ("cms", dict(eps=0.01, delta=0.05))]:
        def build(order):
            acc = create(kind, **params)
            for i in order:
                s = create(kind, **params)
                s.update_hashes(parts[i])
                acc.merge(s)
            return acc.to_bytes()
        a = build([0, 1, 2, 3, 4])
        b = build([4, 2, 0, 3, 1])
        assert a == b, f"{kind} merge is order-dependent"


# ---------------------------------------------------------------------------
# Misra-Gries top-k
# ---------------------------------------------------------------------------

def test_topk_guarantees():
    from qfilter_spark.sketches import TopKSketch
    rng = np.random.default_rng(4)
    items = rng.zipf(1.2, size=200_000).astype(np.int64) % 1000
    sk = TopKSketch.create(k=64)
    for chunk in np.array_split(items, 8):
        sk.update_hashes(hashes_of(chunk))
    uniq, true_counts = np.unique(items, return_counts=True)
    est = sk.estimate_hashes(hashes_of(uniq))
    # lower bound + bounded undercount
    assert (est <= true_counts).all()
    assert sk.err <= items.size // 64
    # every item above n/k must be tracked with est + err >= true
    big = true_counts > items.size // 64
    assert ((est + sk.err >= true_counts) | ~big).all()
    assert (est[big] > 0).all()


def test_topk_merge_and_serde():
    from qfilter_spark.sketches import TopKSketch
    rng = np.random.default_rng(6)
    parts = [(rng.zipf(1.3, size=30_000).astype(np.int64) % 500) for _ in range(4)]
    merged = TopKSketch.create(k=48)
    for p in parts:
        s = TopKSketch.create(k=48)
        s.update_hashes(hashes_of(p))
        merged.merge(s)
    allitems = np.concatenate(parts)
    uniq, true_counts = np.unique(allitems, return_counts=True)
    est = merged.estimate_hashes(hashes_of(uniq))
    assert (est <= true_counts).all()
    big = true_counts > allitems.size // 48 + merged.err
    assert (est[big] > 0).all()
    back = loads(merged.to_bytes())
    assert back.to_bytes() == merged.to_bytes()
