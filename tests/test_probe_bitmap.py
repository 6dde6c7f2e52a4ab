"""Batch probes against reference answers.

contains_hashes/count_hashes answer a uint64 hash column by one sorted
search of the stored fingerprints (rsqf.Filter._search): an unsorted batch
of more than 4096 keys is argsorted first, an ascending one is searched in
place, and every batch is searched in _PROBE_CHUNK slices. Each answer must
equal the scalar count_fingerprint, or a numpy multiset of the stored
fingerprints, the reference's contains/count semantics (src/lib.rs:972-1018
of the reference crate).

The file and some test names date from a probe bitmap that Filter kept
beside the search; the bitmap is deleted, and every test here checks the
one sorted search.
"""

import numpy as np
import pytest

from qfilter_spark.rsqf import Filter


def _keys(rng, n):
    return rng.integers(0, 1 << 64, size=n, dtype=np.uint64)


def _mk(n=200_000, cap=1 << 18, seed=7):
    rng = np.random.default_rng(seed)
    present, absent = _keys(rng, n), _keys(rng, n)
    f = Filter.new(cap, 0.01)
    f.insert_hashes(present)
    return f, present, absent


def _multiset_counts(f, q):
    """Multiplicity of each masked query in the stored fingerprints, by
    np.unique rather than the filter's own search."""
    vals, cnt = np.unique(f.fingerprints(), return_counts=True)
    fq = q & f._fp_mask()
    pos = np.minimum(np.searchsorted(vals, fq), vals.size - 1)
    return np.where(vals[pos] == fq, cnt[pos], 0).astype(np.int64)


def _check(f, q):
    """Batch counts and membership of ``q`` equal the scalar probe's."""
    want = np.array([f.count_fingerprint(int(h)) for h in q], dtype=np.int64)
    got_c = f.contains_hashes(q)
    got_n = f.count_hashes(q)
    assert got_c.dtype == np.bool_ and got_n.dtype == np.int64
    assert (got_n == want).all()
    assert (got_c == (want > 0)).all()
    return want


def test_contains_parity_with_search_path():
    """Membership of present, absent and mixed unsorted batches equals
    np.isin over the stored fingerprints."""
    f, present, absent = _mk()
    for q in (present, absent, np.concatenate([present[:1000], absent[:1000]])):
        got = f.contains_hashes(q)
        assert got.dtype == np.bool_
        assert (got == np.isin(q & f._fp_mask(), f.fingerprints())).all()
    assert f.contains_hashes(present).all()


def test_count_parity_with_search_path_including_duplicates():
    """Counts of keys stored up to three times, and of absent keys, equal
    the multiset of stored fingerprints."""
    rng = np.random.default_rng(11)
    base = _keys(rng, 50_000)
    f = Filter.new(1 << 18, 0.01)
    f.insert_hashes(np.concatenate([base, base[:20_000], base[:5_000]]))
    q = np.concatenate([base, _keys(rng, 60_000)])
    got = f.count_hashes(q)
    assert got.dtype == np.int64
    assert (got == _multiset_counts(f, q)).all()
    assert got[:5_000].min() >= 3
    assert (f.contains_hashes(q) == (got > 0)).all()


@pytest.mark.parametrize("n", [4096, 4097, 65536, 65537, 200_001])
def test_chunk_boundaries(n):
    """A batch of n keys, half present (some stored three times) and half
    absent, ascending and shuffled, answers as the scalar probe: n = 4096
    is the last size searched without the argsort, 65536 is one probe
    slice and 65537 two."""
    rng = np.random.default_rng(n)
    present = _keys(rng, n)
    f = Filter.new(2 * n, 0.01)
    f.insert_hashes(np.concatenate([present, present[: n // 8], present[: n // 16]]))
    q = np.concatenate([present[: n // 2], _keys(rng, n - n // 2)])
    q = np.sort(q & f._fp_mask())
    want = _check(f, q)
    assert want.max() >= 3 and (want == 0).any()

    perm = rng.permutation(n)
    assert (f.count_hashes(q[perm]) == want[perm]).all()
    assert (f.contains_hashes(q[perm]) == (want[perm] > 0)).all()


@pytest.mark.parametrize("make", [
    lambda: Filter.with_fingerprint_size(1 << 12, 48),  # fingerprints over 32 bits
    lambda: Filter.new(1 << 10, 0.01),                  # small domain, few keys
], ids=["wide_fingerprints", "small_filter"])
def test_filter_shapes(make):
    f = make()
    rng = np.random.default_rng(3)
    keys = _keys(rng, f.capacity() // 2)
    f.insert_hashes(keys)
    q = np.concatenate([np.tile(keys, 10), _keys(rng, 5000)])
    want = _check(f, q)
    assert (want[: 10 * keys.size] > 0).all()


def test_mutations_invalidate_cached_bitmap():
    """Every mutation shows in the probe right after it: the filter keeps
    no probe-time state that a mutation could leave stale."""
    f, present, absent = _mk(n=100_000)
    mask = f._fp_mask()
    assert f.contains_hashes(present).all()

    # remove one present fingerprint: its probe turns False unless another
    # stored hash collides with it (removal deletes ONE copy)
    victim = present[0]
    assert f.remove_fingerprint(int(victim))
    q = np.tile(np.concatenate([[victim], present[1:5000]]), 2)  # > 4096 keys
    got = f.contains_hashes(q)
    assert bool(got[0]) == ((present[1:] & mask) == (victim & mask)).any()
    assert got[1:5000].all()
    _check(f, q)

    f.insert_hashes(absent[:10_000])
    assert f.contains_hashes(np.tile(absent[:10_000], 2)).all()
    f.remove_hashes(absent[:10_000])
    _check(f, np.concatenate([absent[:10_000], present[:10_000]]))
    f.insert_fingerprint(True, 123456789)
    assert f.count_hashes(np.full(5000, 123456789, dtype=np.uint64)).min() >= 1

    f.clear()
    assert not f.contains_hashes(present[:8192]).any()
    assert not f.count_hashes(present[:8192]).any()


def test_bitmap_survives_grow_and_shrink():
    """grow and shrink_to_fit keep the fingerprint size (qbits+-1,
    rbits-+1), so they leave every answer as it was."""
    f, present, absent = _mk(n=60_000)
    q = np.concatenate([present[:20_000], present[:20_000], absent[:20_000]])
    before_n, before_c = f.count_hashes(q), f.contains_hashes(q)
    assert before_c[:40_000].all()
    qbits, fs = f.qbits, f.fingerprint_size()

    f.grow()
    assert (f.qbits, f.fingerprint_size()) == (qbits + 1, fs)
    assert (f.count_hashes(q) == before_n).all()
    assert (f.contains_hashes(q) == before_c).all()

    f.shrink_to_fit()
    assert (f.qbits, f.fingerprint_size()) == (qbits, fs)
    assert (f.count_hashes(q) == before_n).all()
    assert (f.contains_hashes(q) == before_c).all()


def test_empty_filter_bitmap_and_probes():
    f = Filter.new(1 << 16, 0.01)
    q = _keys(np.random.default_rng(5), 10_000)
    assert not f.contains_hashes(q).any()
    assert f.count_hashes(q).max(initial=0) == 0


def test_ascending_batch_skips_the_argsort(monkeypatch):
    """An ascending batch of more than 4096 keys (each per-row wave of the
    sharded chunk probe arrives so) answers as its shuffled copy and as
    count_fingerprint do, and is searched in place: no argsort."""
    rng = np.random.default_rng(21)
    present, absent = _keys(rng, 30_000), _keys(rng, 30_000)
    f = Filter.new(1 << 16, 0.01)
    f.insert_hashes(np.concatenate([present, present[:3000]]))
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
