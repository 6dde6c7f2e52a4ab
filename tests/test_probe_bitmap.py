"""Probe-bitmap fast path: exactness, invalidation, and gating.

contains_hashes/count_hashes use an exact membership bitmap over the 2^fs
fingerprint domain when it's small enough (rsqf.Filter._probe_bitmap). The
bitmap is a pure accelerator: every answer must be bit-identical to the
binary-search path (the reference's contains/count semantics,
/root/reference/src/lib.rs:972-1018).
"""

import numpy as np
import pytest

from qfilter_spark.rsqf import Filter


def _mk(n=200_000, cap=1 << 18, seed=7):
    rng = np.random.default_rng(seed)
    present = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
    absent = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
    f = Filter.new(cap, 0.01)
    f.insert_hashes(present)
    return f, present, absent


class _NoBitmapFilter(Filter):
    """Filter with the bitmap gate closed (class attr shadows the gate;
    Filter has __slots__, so an instance attribute would not stick)."""
    _BITMAP_MAX_BYTES = 0


def _forced_off(f):
    """Same filter contents with the bitmap gate closed."""
    return _NoBitmapFilter(f.qbits, f.rbits, f.max_qbits, f.fingerprints())


def test_bitmap_gate_is_open_for_this_shape():
    f, _, _ = _mk()
    assert f._probe_bitmap() is not None  # otherwise this file tests nothing


def test_contains_parity_with_search_path():
    f, present, absent = _mk()
    g = _forced_off(f)
    for q in (present, absent, np.concatenate([present[:1000], absent[:1000]])):
        got = f.contains_hashes(q)
        want = g.contains_hashes(q)
        assert got.dtype == np.bool_
        assert (got == want).all()
    assert f.contains_hashes(present).all()


def test_count_parity_with_search_path_including_duplicates():
    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 64, size=50_000, dtype=np.uint64)
    dup = np.concatenate([base, base[:20_000], base[:5_000]])
    f = Filter.new(1 << 18, 0.01)
    f.insert_hashes(dup)
    g = _forced_off(f)
    q = np.concatenate([base, rng.integers(0, 1 << 64, size=60_000, dtype=np.uint64)])
    got = f.count_hashes(q)
    want = g.count_hashes(q)
    assert (got == want).all()
    assert got[:5_000].min() >= 3


def test_mutations_invalidate_cached_bitmap():
    f, present, absent = _mk(n=100_000)
    f._probe_bitmap()
    assert f._probe_words is not None

    # remove one present fingerprint -> its probe must turn False
    victim = present[0]
    assert f.remove_fingerprint(int(victim))
    assert f._probe_words is None
    q = np.concatenate([np.array([victim], dtype=np.uint64), present[1:5000]])
    got = f.contains_hashes(np.tile(q, 2))  # >4096 so the bitmap path runs
    fp_mask = f._fp_mask()
    # removal deletes ONE copy; another hash colliding to the same fp keeps it
    still = ((present[1:] & fp_mask) == (victim & fp_mask)).any()
    assert bool(got[0]) == still
    assert got[1:5000].all()

    # batch insert after a cached build -> new keys must probe True
    f._probe_bitmap()
    f.insert_hashes(absent[:10_000])
    assert f._probe_words is None
    assert f.contains_hashes(np.concatenate([absent[:10_000]] * 2)).all()

    # batch remove invalidates too
    f._probe_bitmap()
    f.remove_hashes(absent[:10_000])
    assert f._probe_words is None

    # single-item insert invalidates
    f._probe_bitmap()
    f.insert_fingerprint(True, 123456789)
    assert f._probe_words is None

    # clear invalidates
    f._probe_bitmap()
    f.clear()
    assert f._probe_words is None
    assert not f.contains_hashes(np.tile(present, 1)[:8192]).any()


def test_bitmap_survives_grow_and_shrink():
    # grow/shrink keep fingerprint size (qbits+-1 / rbits-+1), so the cached
    # domain bitmap stays valid across them
    f, present, absent = _mk(n=60_000, cap=1 << 18)
    words = f._probe_bitmap()
    assert f.max_qbits is None or True
    fs_before = f.fingerprint_size()
    if f.rbits > 1:
        f.grow()
        assert f.fingerprint_size() == fs_before
        assert f._probe_words is words
        assert f.contains_hashes(present[:10_000].repeat(2)).all()
        g = _forced_off(f)
        q = absent[:10_000].repeat(2)
        assert (f.contains_hashes(q) == g.contains_hashes(q)).all()


def test_wide_fingerprints_skip_the_bitmap():
    f = Filter.with_fingerprint_size(1 << 12, 48)
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 1 << 64, size=3000, dtype=np.uint64)
    f.insert_hashes(keys)
    assert f.fingerprint_size() > 32
    assert f._probe_bitmap() is None
    assert f.contains_hashes(np.tile(keys, 3)).all()


def test_sparse_filter_in_small_domain_still_gated_correctly():
    # tiny filter, small fs: bitmap allowed only while the domain is not
    # wildly sparse vs the stored set (<= 8 x max(fps bytes, 1 MiB))
    f = Filter.new(1 << 10, 0.01)
    keys = np.arange(500, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    f.insert_hashes(keys)
    nbytes = (1 << f.fingerprint_size()) >> 3
    allowed = nbytes <= 8 * max(f._fps.nbytes, 1 << 20)
    assert (f._probe_bitmap() is not None) == allowed
    assert f.contains_hashes(np.tile(keys, 20)).all()


def test_volume_heuristic_defers_then_builds():
    # one small-vs-big batch stays on the sorted-search path; a stream of
    # batches crosses the len/2 cumulative threshold and converts
    f, present, absent = _mk(n=400_000, cap=1 << 19)
    batch = absent[:10_000]
    f.contains_hashes(batch)
    assert f._probe_words is None, "a single 10k batch must not trigger an O(len) build"
    seen = f._probe_seen
    assert seen == batch.size
    for i in range(25):  # 250k more probes -> crosses 400k/2
        f.contains_hashes(batch)
    assert f._probe_words is not None
    # and answers stay identical to the forced-off path
    g = _forced_off(f)
    q = np.concatenate([present[:20_000], absent[:20_000]])
    assert (f.contains_hashes(q) == g.contains_hashes(q)).all()


def test_empty_filter_bitmap_and_probes():
    f = Filter.new(1 << 16, 0.01)
    rng = np.random.default_rng(5)
    q = rng.integers(0, 1 << 64, size=10_000, dtype=np.uint64)
    assert not f.contains_hashes(q).any()
    assert f.count_hashes(q).max(initial=0) == 0


@pytest.mark.parametrize("n", [4097, 65536, 65537, 200_001])
def test_chunk_boundaries(n):
    rng = np.random.default_rng(n)
    present = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
    f = Filter.new(1 << 18, 0.01)
    f.insert_hashes(present)
    g = _forced_off(f)
    q = np.concatenate([present[: n // 2],
                        rng.integers(0, 1 << 64, size=n, dtype=np.uint64)])
    assert (f.contains_hashes(q) == g.contains_hashes(q)).all()
    assert (f.count_hashes(q) == g.count_hashes(q)).all()


def test_mutation_resets_probe_volume_credit():
    """Invalidation must also reset the cumulative probe counter: probes
    answered before a mutation don't justify rebuilding the bitmap for the
    first small batch after it (round-5 code-review regression — without the
    reset, every mutate+probe cycle re-paid the full O(len + 2^fs/8) build)."""
    f, present, _ = _mk(n=40_000, cap=1 << 16)
    n = len(f)
    # cross the len/2 cumulative threshold and build the bitmap
    f.contains_hashes(present[: n // 2 + 4096 + 1])
    assert f._probe_words is not None
    # any mutation drops the bitmap AND the credit
    f.insert_fingerprint(True, 12345)
    assert f._probe_words is None and f._probe_seen == 0
    # a single modest batch (> the 4096 small-batch cutoff, < len/2) must
    # take the sorted-search path, not re-pay the bitmap build...
    out = f.contains_hashes(present[:5000])
    assert f._probe_words is None
    assert out.all()
    # ...while sustained probe volume converts again, with identical answers
    f.contains_hashes(present[: n // 2])
    assert f._probe_words is not None
    assert f.contains_hashes(present[:5000]).all()



@pytest.mark.parametrize("gate_open", [False, True])
def test_ascending_batch_skips_the_argsort(monkeypatch, gate_open):
    """An ascending batch of more than 4096 keys (each per-row wave of the
    sharded chunk probe arrives so) answers as its shuffled copy and as
    count_fingerprint do, and is searched in place: no argsort."""
    rng = np.random.default_rng(21)
    present = rng.integers(0, 1 << 64, size=30_000, dtype=np.uint64)
    absent = rng.integers(0, 1 << 64, size=30_000, dtype=np.uint64)
    f = Filter.new(1 << 16, 0.01)
    f.insert_hashes(np.concatenate([present, present[:3000]]))
    if gate_open:
        assert f._probe_bitmap() is not None
    else:
        f = _forced_off(f)
    q = np.sort(np.concatenate([present[:8000], absent[:8000]]) & f._fp_mask())
    want = np.array([f.count_fingerprint(int(h)) for h in q])
    assert want.max() >= 2

    calls = []
    argsort = np.argsort
    monkeypatch.setattr(np, "argsort",
                        lambda *a, **k: calls.append(1) or argsort(*a, **k))
    got_c = f.contains_hashes(q)
    got_n = f.count_hashes(q)
    monkeypatch.undo()
    assert calls == []
    assert (got_c == (want > 0)).all()
    assert (got_n == want).all()

    perm = rng.permutation(q.size)
    assert (f.contains_hashes(q[perm]) == got_c[perm]).all()
    assert (f.count_hashes(q[perm]) == got_n[perm]).all()
