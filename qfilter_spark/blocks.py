"""Vectorized RSQF physical block layout (encode / decode).

Reproduces the reference's at-rest layout (/root/reference/src/lib.rs:468-486,
570-572): an array of 64-slot blocks, each

    1 byte  offset     (distance from block start to its first run's start,
                        saturating at 255; src/lib.rs:597-615, 897-907)
    8 bytes occupieds   (bit i: bucket block*64+i is a canonical home;
                        src/lib.rs:131-135)
    8 bytes runends     (bit i: slot block*64+i ends a run; src/lib.rs:706-723)
    8*rbits bytes       bit-packed remainders, rbits per slot, little-endian
                        bit order within the area (src/lib.rs:725-780)

Instead of the reference's per-item shifting inserts (src/lib.rs:1216-1302),
we build the whole structure in O(n) numpy from the sorted fingerprint
multiset — valid because the physical state is a pure function of that
multiset (SURVEY.md §1.1; grow/shrink/merge in the reference all rebuild by
re-inserting the ascending fingerprint stream).

Placement: runs are laid out in bucket order; run i starts at
``max(bucket_i, end_{i-1}+1)`` — the same fixed point sequential insertion
reaches. Wrap-around (a run pushed past the last slot continues at slot 0,
src/lib.rs:918-970 handles this with modular arithmetic) is resolved with a
two-lap "doubling" pass: placing the bucket sequence twice and keeping the
second lap yields the circular fixed point whenever load < 100%.

Decode (= the reference's FingerprintIter, src/lib.rs:328-378) is a
vectorized rank/select: occupied buckets are matched to runend positions in
circular order; the rotation anchor is any empty slot, found from the
prefix-sum invariant pending(s) = #occupieds<=s - #runends<=s (an empty slot
has pending 0 and no runend bit).
"""

from __future__ import annotations

import math

import numpy as np

_U64 = np.uint64


def _pack_rems(rem_by_slot: np.ndarray, rbits: int) -> np.ndarray:
    """Bit-pack rbits-wide remainders LSB-first into the little-endian
    remainder area, as uint64 word LANES: every slot's remainder lands in
    at most two 64-bit words at a fixed per-lane shift (the slot pattern
    repeats every lcm(rbits,64) bits), so the whole pack is O(n_slots)
    vectorized shifts/ORs instead of the O(n_slots*rbits) bit-matrix +
    packbits pass (measured ~2-3x on the at-rest encode hot path).
    Lane arrays are kept transposed (contiguous rows) — the (n_per, P)
    column stride defeats the cache.
    """
    n_slots = rem_by_slot.size
    g = 64 // math.gcd(rbits, 64)      # slots per repeating period
    P = rbits * g // 64                # 64-bit words per period
    n_per = n_slots // g
    rem_t = rem_by_slot.reshape(n_per, g).T  # (g, n_per) lanes, rows strided
    words_t = np.zeros((P, n_per), dtype=np.uint64)
    for j in range(g):
        lane = rem_t[j]
        p = j * rbits
        w0, sh = p >> 6, p & 63
        words_t[w0] |= lane << _U64(sh)
        if sh + rbits > 64:
            words_t[w0 + 1] |= lane >> _U64(64 - sh)
    return np.ascontiguousarray(words_t.T).reshape(-1).view(np.uint8)


def _unpack_rems(rem_area: np.ndarray, rbits: int, n_slots: int) -> np.ndarray:
    """Inverse of :func:`_pack_rems`: remainder per slot from the packed
    little-endian bit area, O(n_slots) word-lane shifts."""
    g = 64 // math.gcd(rbits, 64)
    P = rbits * g // 64
    n_per = n_slots // g
    words_t = np.ascontiguousarray(
        np.ascontiguousarray(rem_area).view(np.uint64).reshape(n_per, P).T)
    out_t = np.empty((g, n_per), dtype=np.uint64)
    mask = _U64((1 << rbits) - 1) if rbits < 64 else _U64(0xFFFFFFFFFFFFFFFF)
    for j in range(g):
        p = j * rbits
        w0, sh = p >> 6, p & 63
        v = out_t[j]
        np.right_shift(words_t[w0], _U64(sh), out=v)
        if sh + rbits > 64:
            v |= words_t[w0 + 1] << _U64(64 - sh)
        v &= mask
    return np.ascontiguousarray(out_t.T).reshape(-1)


def encode(fps: np.ndarray, qbits: int, rbits: int) -> bytes:
    """Build the blocked byte layout from a sorted fingerprint multiset.

    Placement is a PER-ITEM recurrence: run j starts at
    ``max(bucket_j, end_{j-1} + 1)``, so with csum_j the number of items
    in runs before run j, start_j = csum_j + running_max(bucket - csum)(j),
    and the unwrapped slot of item i (quotient quot_i) is

        pos(i) = i + running_max(quot - i)(i)

    — within a group quot - i is largest at the group's first item, where
    it equals bucket - csum. pos is strictly increasing, so run ends are
    just the positions of group-last items and the per-block offset byte
    needs one searchsorted over quot. Wrap-around (a run pushed past the
    last slot continues at slot 0) is the second lap of the same
    recurrence over the bucket sequence placed twice, whose lap-1 carry is
    a scalar.
    """
    if qbits < 6:
        raise ValueError(f"block layout requires >= 64 slots, got qbits={qbits}")
    n_slots = 1 << qbits
    n_blocks = n_slots // 64
    n = fps.size
    block_starts = np.arange(n_blocks, dtype=np.int64) * 64
    offsets = np.zeros(n_blocks, dtype=np.uint8)
    occ_bits = np.zeros(n_slots, dtype=np.uint8)
    run_bits = np.zeros(n_slots, dtype=np.uint8)
    rem_by_slot = np.zeros(n_slots, dtype=np.uint64)

    if n:
        idx = np.arange(n, dtype=np.int64)
        # values < 2^qbits: the int64 reinterpret is safe
        quot = (fps >> _U64(rbits)).view(np.int64)
        rem = fps & _U64((1 << rbits) - 1)
        new_group = np.empty(n, dtype=np.bool_)
        new_group[0] = True
        np.not_equal(quot[1:], quot[:-1], out=new_group[1:])
        # within a group, quot - idx is maximal at the group's FIRST item
        # (where it equals bucket - csum, the run-start term), so the
        # per-item running max needs no group_first bookkeeping at all
        t = np.maximum.accumulate(quot - idx)
        # wrap-around: on the doubled domain (buckets, then buckets +
        # n_slots), lap-2's running max is max(t[i], t[-1] - (n_slots - n))
        # — the carry from lap 1 is a SCALAR, so the circular fixed point
        # needs no doubled arrays: one np.maximum with the carry c covers
        # both cases (unwrapped iff c <= 0, where max(t, c) == t since t >= 0)
        c = int(t[-1]) - (n_slots - n)
        if c > 0:
            np.maximum(t, c, out=t)
        pos_un = t
        pos_un += idx  # strictly increasing; may exceed n_slots-1 (wrap)

        # offset byte: run_end((g*64 - 1) mod n_slots) - (g*64 - 1), sat
        # 255, with run_end(x) = max(x, last run end among buckets <= x,
        # evaluated on the doubled domain). pos_un is strictly increasing,
        # so the per-bucket term is pos_un[searchsorted(quot, x)] and the
        # wrapped tail contributes the scalar pos_un[-1] - n_slots to
        # every block.
        x = block_starts - 1
        j = np.searchsorted(quot, x, side="right") - 1
        ends = np.where(j >= 0, pos_un[np.maximum(j, 0)], -1)
        tail = int(pos_un[-1]) - n_slots
        if tail > -1:
            np.maximum(ends, tail, out=ends)
        re = np.maximum(x, ends)
        offsets = np.minimum(re - x, 255).astype(np.uint8)

        pos = pos_un & (n_slots - 1)
        last = np.empty(n, dtype=np.bool_)
        last[-1] = True
        last[:-1] = new_group[1:]
        # scatter WITHOUT the boolean-mask extractions (each cost more than
        # the scatters themselves): occupied buckets can be written once
        # per item (duplicates re-write the same 1), and pos is a
        # permutation of the occupied slots (no duplicates), so the runend
        # flags scatter as the full last-of-group byte vector
        occ_bits[quot] = 1
        run_bits[pos] = last.view(np.uint8)
        rem_by_slot[pos] = rem

    occ_words = np.packbits(occ_bits, bitorder="little").view(np.uint64)
    run_words = np.packbits(run_bits, bitorder="little").view(np.uint64)
    rem_bytes = _pack_rems(rem_by_slot, rbits)

    block_bytes = 17 + 8 * rbits
    view = np.empty((n_blocks, block_bytes), dtype=np.uint8)
    view[:, 0] = offsets
    view[:, 1:9] = occ_words.view(np.uint8).reshape(n_blocks, 8)
    view[:, 9:17] = run_words.view(np.uint8).reshape(n_blocks, 8)
    view[:, 17:] = rem_bytes.reshape(n_blocks, 8 * rbits)
    return view.tobytes()


def decode(payload: bytes, qbits: int, rbits: int, n_items: int) -> np.ndarray:
    """Recover the sorted fingerprint multiset from the blocked layout.

    Vectorized equivalent of FingerprintIter (src/lib.rs:328-378).
    """
    n_slots = 1 << qbits
    n_blocks = n_slots // 64
    block_bytes = 17 + 8 * rbits
    raw = np.frombuffer(payload, dtype=np.uint8, count=n_blocks * block_bytes)
    view = raw.reshape(n_blocks, block_bytes)
    occ_bits = np.unpackbits(np.ascontiguousarray(view[:, 1:9]).reshape(-1),
                             bitorder="little")
    run_bits = np.unpackbits(np.ascontiguousarray(view[:, 9:17]).reshape(-1),
                             bitorder="little")

    if n_items == 0:
        if occ_bits.any():
            # a zeroed/corrupted length header over a non-empty structure
            # must not silently decode to an empty filter (every probe
            # would return a false negative)
            raise ValueError("header says 0 fingerprints but the buffer "
                             "has occupied buckets")
        return np.empty(0, dtype=np.uint64)

    rem_by_slot = _unpack_rems(np.ascontiguousarray(view[:, 17:]).reshape(-1),
                               rbits, n_slots)

    occ_pos = np.flatnonzero(occ_bits)
    run_pos = np.flatnonzero(run_bits)

    # find an empty anchor slot: pending(s) = p0 + cumsum(occ - run) == 0
    # (int32 arithmetic: counts fit easily and halve the memory traffic)
    d = np.cumsum(occ_bits.view(np.int8) - run_bits.view(np.int8),
                  dtype=np.int32)
    p0 = max(0, -int(d.min()))
    empty = (d == -p0) & (run_bits == 0)
    anchor = int(np.argmax(empty))
    if not empty[anchor]:  # argmax returns 0 on all-False: check, don't
        # assert (a -O worker would strip an assert and decode garbage)
        raise ValueError("no empty anchor slot (corrupt payload or "
                         "filter at 100% load)")
    shift = anchor + 1

    # rotate so the layout is linear (no run crosses the anchor):
    # occ_pos/run_pos are sorted, so the rotated sequences are just rolls —
    # no argsort needed (the rotation splits one sorted array in two)
    so = int(np.searchsorted(occ_pos, shift))
    sr = int(np.searchsorted(run_pos, shift))
    b_orig = np.concatenate([occ_pos[so:], occ_pos[:so]])
    b_rot = np.concatenate([occ_pos[so:] - shift,
                            occ_pos[:so] + (n_slots - shift)])
    e_rot = np.concatenate([run_pos[sr:] - shift,
                            run_pos[:sr] + (n_slots - shift)])

    prev_end = np.concatenate([[-1], e_rot[:-1]])
    s_rot = np.maximum(b_rot, prev_end + 1)
    counts = e_rot - s_rot + 1
    total = int(counts.sum())
    csum = np.concatenate([[0], np.cumsum(counts)])[:-1]
    pos_rot = np.arange(total, dtype=np.int64) + np.repeat(s_rot - csum, counts)
    pos = (pos_rot + shift) & (n_slots - 1)

    fps = (np.repeat(b_orig.astype(np.uint64), counts) << _U64(rbits)) | rem_by_slot[pos]
    # per-run remainders are stored ascending and b_orig is two ascending
    # bucket segments (>= shift, then < shift): one roll restores global
    # ascending order — no sort
    m1 = int(counts[:occ_pos.size - so].sum())
    fps = np.concatenate([fps[m1:], fps[:m1]])
    if fps.size != n_items:
        raise ValueError(f"decoded {fps.size} fingerprints, header says {n_items}")
    return fps

