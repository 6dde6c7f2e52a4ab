"""Physical block layout: encode/decode roundtrip and offsets.

Mirrors the reference's internal unit tests (src/lib.rs:1461-1555 run
navigation, 1652-1685 remainder packing) at the property level: the layout we
build must be the same fixed point sequential insertion reaches, and decode
must invert encode for any admissible multiset — including wrap-around runs.
"""

import gc
import tracemalloc

import numpy as np
import pytest

from qfilter_spark import blocks


def slow_layout(buckets, counts, n_slots):
    """Independent O(n^2-ish) placement: run i starts at
    max(bucket_i, prev_end+1) processed circularly until stable."""
    k = len(buckets)
    starts = [0] * k
    # iterate to fixed point over the circle (at most 2 laps needed)
    prev_end = -1
    for lap in range(3):
        changed = False
        pe = prev_end
        for i in range(k):
            s = max(buckets[i], pe + 1)
            if lap > 0 and s != starts[i]:
                changed = True
            starts[i] = s
            pe = s + counts[i] - 1
        # wrap: the last run's end may shift the first runs
        prev_end = pe - n_slots
        if lap > 0 and not changed:
            break
    return starts


def make_fps(rng, qbits, rbits, n, hot_top=False):
    n_slots = 1 << qbits
    if hot_top:
        # concentrate quotients near the top to force wrap-around
        quot = n_slots - 1 - rng.integers(0, max(2, n_slots // 16), size=n)
    else:
        quot = rng.integers(0, n_slots, size=n)
    rem = rng.integers(0, 1 << rbits, size=n, dtype=np.uint64)
    fps = (quot.astype(np.uint64) << np.uint64(rbits)) | rem
    fps.sort()
    return fps


@pytest.mark.parametrize("qbits,rbits", [(6, 7), (6, 3), (7, 9), (8, 5), (10, 11), (6, 58)])
@pytest.mark.parametrize("load", [0.05, 0.5, 0.95])
@pytest.mark.parametrize("hot_top", [False, True])
def test_encode_decode_roundtrip(qbits, rbits, load, hot_top):
    rng = np.random.default_rng(qbits * 1000 + rbits * 10 + int(load * 100) + hot_top)
    n = int((1 << qbits) * load)
    fps = make_fps(rng, qbits, rbits, n, hot_top)
    payload = blocks.encode(fps, qbits, rbits)
    assert len(payload) == ((1 << qbits) // 64) * (17 + 8 * rbits)
    out = blocks.decode(payload, qbits, rbits, n)
    assert np.array_equal(out, fps)


def test_roundtrip_empty():
    payload = blocks.encode(np.empty(0, dtype=np.uint64), 6, 7)
    out = blocks.decode(payload, 6, 7, 0)
    assert out.size == 0


def test_roundtrip_with_duplicates():
    rng = np.random.default_rng(7)
    base = make_fps(rng, 7, 6, 40)
    fps = np.sort(np.concatenate([base, base[:20], base[:5]]))
    payload = blocks.encode(fps, 7, 6)
    out = blocks.decode(payload, 7, 6, fps.size)
    assert np.array_equal(out, fps)


def test_offsets_byte_semantics():
    """offset[B] = run_start(B*64) - B*64 (src/lib.rs:897-907), saturated."""
    rng = np.random.default_rng(5)
    qbits, rbits = 8, 6
    n_slots = 1 << qbits
    for trial in range(20):
        n = int(rng.integers(1, int(n_slots * 0.95)))
        fps = make_fps(rng, qbits, rbits, n, hot_top=bool(trial % 2))
        payload = blocks.encode(fps, qbits, rbits)
        raw = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 17 + 8 * rbits)
        offsets = raw[:, 0]

        # independent recomputation from the decoded run structure
        quot = (fps >> np.uint64(rbits)).astype(np.int64)
        buckets, counts = np.unique(quot, return_counts=True)
        starts = slow_layout(list(buckets), list(counts), n_slots)
        ends = [s + c - 1 for s, c in zip(starts, counts)]
        for b in range(n_slots // 64):
            g = b * 64
            # run_end(g-1) evaluated circularly
            x = g - 1 + n_slots
            re = x
            for bk, e in zip(buckets, ends):
                for base in (0, n_slots):
                    if bk + base <= x:
                        re = max(re, e + base)
            want = min(re - x, 255)
            assert offsets[b] == want, (trial, b, offsets[b], want)



def test_round_trip_retains_no_memory():
    """The kernels keep no scratch between calls: once a 200k-item encode
    and decode are freed, under 1 MiB of what they allocated stays traced."""
    rng = np.random.default_rng(3)
    qbits, rbits = 18, 7
    fps = make_fps(rng, qbits, rbits, 200_000)
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        payload = blocks.encode(fps, qbits, rbits)
        out = blocks.decode(payload, qbits, rbits, fps.size)
        assert np.array_equal(out, fps)
        del payload, out
        gc.collect()
        retained = tracemalloc.get_traced_memory()[0] - base
    finally:
        tracemalloc.stop()
    assert retained < 1 << 20, f"{retained / 2**20:.2f} MiB retained"
