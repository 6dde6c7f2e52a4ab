"""Rank-Select Quotient Filter rebuilt as a mergeable, vectorized state.

Semantics reproduce arthurprs/qfilter's ``Filter`` (/root/reference/src/lib.rs)
— NOT its implementation. The key structural fact (SURVEY.md §1.1): the
reference's physical RSQF state is a pure function of its *sorted fingerprint
multiset* (grow src/lib.rs:1365-1377, shrink src/lib.rs:1311-1328 and merge
src/lib.rs:1343-1352 all rebuild by re-inserting the ascending fingerprint
stream). We therefore keep the **canonical sorted fingerprint multiset** as
the logical state (a sorted ``np.uint64`` array), which makes every operation
a vectorized array kernel and makes merge a k-way sorted merge — associative,
commutative, and order-independent, exactly what a distributed aggregation
state needs.

The reference's physical blocked layout (64-slot blocks, offset byte,
occupieds/runends bitvectors, bit-packed remainders — src/lib.rs:468-486,
570-572) is preserved as the at-rest serialization format, built/decoded with
vectorized rank/select kernels in :mod:`qfilter_spark.blocks`.

API parity map (reference file:line):
- new / new_resizeable / with_fingerprint_size: src/lib.rs:392-466
- insert / insert_duplicated / insert_counting: src/lib.rs:1131-1171
- insert_fingerprint(_counting): src/lib.rs:1183-1214
- contains(_fingerprint) / count(_fingerprint): src/lib.rs:972-1018
- remove(_fingerprint): src/lib.rs:1056-1129
- merge: src/lib.rs:1330-1352; grow: src/lib.rs:1354-1377;
  shrink_to_fit: src/lib.rs:1311-1328
- fingerprints(): src/lib.rs:1304-1309 (ascending order)
- capacity math and error ratios: src/lib.rs:530-567
"""

from __future__ import annotations

import struct

import numpy as np

from . import params
from .errors import (CapacityExceeded, IncompatibleFingerprintSize,
                     NotEnoughFingerprintBits)
from .hashing import hash_obj

_U64_MAX = (1 << 64) - 1

_HEADER = struct.Struct("<4sBBBBQ")  # magic, version, qbits, rbits, max_qbits(0=None), len
_MAGIC = b"QFSK"
_FMT_FPS = 1
_FMT_BLOCKS = 2


class Filter:
    """A quotient filter over 64-bit hashes with counting and merge support."""

    __slots__ = ("qbits", "rbits", "max_qbits", "_fps")

    # ------------------------------------------------------------------
    # constructors (src/lib.rs:392-466)
    # ------------------------------------------------------------------
    def __init__(self, qbits: int, rbits: int, max_qbits: int | None = None,
                 fps: np.ndarray | None = None):
        if qbits < 1 or rbits < 1 or qbits + rbits > 64:
            raise NotEnoughFingerprintBits(f"invalid qbits={qbits} rbits={rbits}")
        self.qbits = qbits
        self.rbits = rbits
        self.max_qbits = max_qbits
        self._fps = np.empty(0, dtype=np.uint64) if fps is None else fps

    @classmethod
    def new(cls, capacity: int, fp_rate: float) -> "Filter":
        return cls.new_resizeable(capacity, capacity, fp_rate)

    @classmethod
    def new_resizeable(cls, initial_capacity: int, max_capacity: int,
                       fp_rate: float) -> "Filter":
        q, r, mq = params.resizeable_params(initial_capacity, max_capacity, fp_rate)
        return cls(q, r, mq)

    @classmethod
    def with_fingerprint_size(cls, initial_capacity: int, fingerprint_bits: int) -> "Filter":
        q, r, mq = params.fingerprint_size_params(initial_capacity, fingerprint_bits)
        return cls(q, r, mq)

    # ------------------------------------------------------------------
    # accessors (src/lib.rs:501-567)
    # ------------------------------------------------------------------
    def __len__(self) -> int:
        return int(self._fps.size)

    @property
    def is_empty(self) -> bool:
        return self._fps.size == 0

    def fingerprint_size(self) -> int:
        return self.qbits + self.rbits

    def total_buckets(self) -> int:
        return 1 << self.qbits

    def total_blocks(self) -> int:
        return (1 << self.qbits) // 64 if self.qbits >= 6 else 1

    def capacity(self) -> int:
        return params.capacity_for(self.qbits)

    def capacity_resizeable(self) -> int:
        return params.capacity_for(self.max_qbits if self.max_qbits is not None else self.qbits)

    def max_error_ratio(self) -> float:
        return 2.0 ** (-self.rbits)

    def max_error_ratio_resizeable(self) -> float:
        extra = (self.max_qbits if self.max_qbits is not None else self.qbits) - self.qbits
        return 2.0 ** (-(self.rbits - extra))

    def current_error_ratio(self) -> float:
        occupancy = len(self) / self.total_buckets()
        return 1.0 - np.e ** (-occupancy / 2.0 ** self.rbits)

    def memory_usage(self) -> int:
        """Bytes of the reference block layout at current qbits/rbits.

        (1 offset + 8 occupieds + 8 runends + 64*rbits/8 remainder bytes per
        64-slot block; src/lib.rs:476, 570-572.)
        """
        return self.total_blocks() * (17 + 8 * self.rbits)

    def clear(self) -> None:
        self._fps = np.empty(0, dtype=np.uint64)

    # ------------------------------------------------------------------
    # fingerprints
    # ------------------------------------------------------------------
    def _fp_mask(self) -> np.uint64:
        fs = self.fingerprint_size()
        return np.uint64(_U64_MAX if fs >= 64 else (1 << fs) - 1)

    def fingerprints(self) -> np.ndarray:
        """Stored fingerprints, ascending (src/lib.rs:1304-1309)."""
        return self._fps.copy()

    def calc_qr(self, hash_: int) -> tuple[int, int]:
        bucket = (hash_ >> self.rbits) & ((1 << self.qbits) - 1)
        rem = hash_ & ((1 << self.rbits) - 1)
        return bucket, rem

    def hash(self, item) -> int:
        return hash_obj(item)

    # ------------------------------------------------------------------
    # queries
    # ------------------------------------------------------------------
    def contains(self, item) -> bool:
        return self.contains_fingerprint(self.hash(item))

    def contains_fingerprint(self, hash_: int) -> bool:
        return bool(self.count_fingerprint(hash_) > 0)

    def count(self, item) -> int:
        return self.count_fingerprint(self.hash(item))

    def count_fingerprint(self, hash_: int) -> int:
        fp = np.uint64(hash_ & int(self._fp_mask()))
        lo = np.searchsorted(self._fps, fp, side="left")
        hi = np.searchsorted(self._fps, fp, side="right")
        return int(hi - lo)

    #: probe slice (see _search)
    _PROBE_CHUNK = 65536

    def _search(self, fps: np.ndarray, count: bool) -> np.ndarray:
        """Per-query membership (bool) or multiplicity (int64) by binary
        search of the stored fingerprints: the one probe path of
        contains_hashes and count_hashes. ``fps`` is already masked and
        the filter is non-empty.

        A batch over 4096 keys is searched in ascending order: binary
        searches of a big table in random order are cache-miss-bound
        (~5x slower). A batch that arrives ascending, as every per-row
        wave of the sharded chunk probe does, skips the argsort and the
        gathers through it (12.6k-key wave: ~45 vs ~65 ns/key contains).
        The searches run in _PROBE_CHUNK slices, which bound the
        temporaries to one slice; at 2M keys the slicing is time-neutral
        for the search itself.
        """
        table = self._fps
        n = table.size
        out = np.empty(fps.size, dtype=np.int64 if count else bool)
        order = None
        if fps.size > 4096 and not (fps[1:] >= fps[:-1]).all():
            order = np.argsort(fps)
        ch = self._PROBE_CHUNK
        for s in range(0, fps.size, ch):
            idx = slice(s, s + ch) if order is None else order[s:s + ch]
            qs = fps[idx]
            lo = np.searchsorted(table, qs, side="left")
            if count:
                out[idx] = np.searchsorted(table, qs, side="right") - lo
            else:
                valid = lo < n
                np.minimum(lo, n - 1, out=lo)
                hit = table[lo] == qs
                hit &= valid
                out[idx] = hit
        return out

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership for a uint64 hash column."""
        fps = np.asarray(hashes, dtype=np.uint64) & self._fp_mask()
        if self._fps.size == 0:
            return np.zeros(fps.size, dtype=bool)
        return self._search(fps, count=False)

    def count_hashes(self, hashes: np.ndarray) -> np.ndarray:
        fps = np.asarray(hashes, dtype=np.uint64) & self._fp_mask()
        if self._fps.size == 0:
            return np.zeros(fps.size, dtype=np.int64)
        return self._search(fps, count=True)

    # ------------------------------------------------------------------
    # single-item mutations (src/lib.rs:1131-1214)
    # ------------------------------------------------------------------
    def insert(self, item) -> bool:
        return self.insert_counting(1, item) == 0

    def insert_duplicated(self, item) -> None:
        self.insert_counting(_U64_MAX, item)

    def insert_counting(self, max_count: int, item) -> int:
        hash_ = self.hash(item)
        return self.insert_fingerprint_counting(max_count, hash_)

    def insert_fingerprint(self, duplicate: bool, hash_: int) -> bool:
        max_count = _U64_MAX if duplicate else 1
        return self.insert_fingerprint_counting(max_count, hash_) < max_count

    def insert_fingerprint_counting(self, max_count: int, hash_: int) -> int:
        try:
            return self._insert_one(max_count, hash_)
        except CapacityExceeded:
            self._grow_if_possible()
            return self._insert_one(max_count, hash_)

    def _insert_one(self, max_count: int, hash_: int) -> int:
        fp = np.uint64(hash_ & int(self._fp_mask()))
        lo = int(np.searchsorted(self._fps, fp, side="left"))
        hi = int(np.searchsorted(self._fps, fp, side="right"))
        count = hi - lo
        if count >= max_count:
            # the reference's scan stops counting the moment it reaches
            # max_count and returns that (src/lib.rs:1249-1254), so a
            # no-op insert reports min(existing, max_count) — NOT the true
            # copy count. Found by the live differential harness
            # (tests/test_live_reference.py) on mixed-cap sequences.
            return max_count
        if len(self) >= self.capacity():
            raise CapacityExceeded(f"len {len(self)} >= capacity {self.capacity()}")
        self._fps = np.insert(self._fps, lo, fp)
        return count

    def remove(self, item) -> bool:
        return self.remove_fingerprint(self.hash(item))

    def remove_fingerprint(self, hash_: int) -> bool:
        """Delete one occurrence of the fingerprint if present.

        Same caveat as the reference (src/lib.rs:1056-1061): removing an item
        that was never inserted may delete a colliding fingerprint and create
        a false negative.
        """
        fp = np.uint64(hash_ & int(self._fp_mask()))
        lo = int(np.searchsorted(self._fps, fp, side="left"))
        if lo >= len(self) or self._fps[lo] != fp:
            return False
        self._fps = np.delete(self._fps, lo)
        return True

    # ------------------------------------------------------------------
    # batch mutations (vectorized; the distributed hot path)
    # ------------------------------------------------------------------
    def insert_hashes(self, hashes: np.ndarray, max_count: int = _U64_MAX,
                      auto_grow: bool = True) -> int:
        """Insert a uint64 hash column; returns number of fingerprints admitted.

        Sequential-equivalent semantics: identical final state to calling
        ``insert_fingerprint_counting(max_count, h)`` for each hash in order
        (multiset result is order-independent given the cap). On overflow the
        filter grows while allowed; if still over capacity, the longest
        admissible prefix is applied and :class:`CapacityExceeded` is raised
        (mirrors merge's partial-failure doc, src/lib.rs:1340-1342).
        """
        fps = np.asarray(hashes, dtype=np.uint64) & self._fp_mask()
        if fps.size == 0:
            return 0

        def admit_mask(kind) -> np.ndarray:
            # multiplicity of each incoming fp among *earlier* incoming equals
            # (by sort order `kind`), capped against what's already stored.
            order = np.argsort(fps, kind=kind)
            sorted_fps = fps[order]
            new_group = np.empty(fps.size, dtype=bool)
            new_group[0] = True
            np.not_equal(sorted_fps[1:], sorted_fps[:-1], out=new_group[1:])
            group_start = np.maximum.accumulate(np.where(new_group, np.arange(fps.size), 0))
            cumcount_sorted = np.arange(fps.size) - group_start
            cumcount = np.empty(fps.size, dtype=np.int64)
            cumcount[order] = cumcount_sorted
            return self.count_hashes(fps) + cumcount < max_count

        if max_count >= _U64_MAX:
            admit = np.ones(fps.size, dtype=bool)
            n_admit = fps.size
        else:
            # Unstable argsort is sufficient on the success path: within a
            # duplicate group the cumcounts are a permutation, so a different
            # *position* subset may be admitted, but the admitted values (all
            # equal), the final multiset, and the returned n_admit are
            # identical — and the unstable u64 path is ~3.4x faster here.
            admit = admit_mask(None)
            n_admit = int(admit.sum())

        while len(self) + n_admit > self.capacity():
            if auto_grow and self.max_qbits is not None and self.max_qbits > self.qbits:
                self.grow()
            else:
                # admit the longest prefix that fits, then fail. The PREFIX cut
                # makes position matter: recompute the mask with a stable sort
                # so "longest admissible prefix" means sequential-insert order
                # (unstable may admit a later duplicate over an earlier one —
                # same multiset overall, different values within a prefix;
                # code-review finding, round 5). Rare path: only on overflow
                # of a non-growable filter with a finite cap.
                if max_count < _U64_MAX:
                    admit = admit_mask("stable")
                room = self.capacity() - len(self)
                cum = np.cumsum(admit)
                cutoff = int(np.searchsorted(cum, room, side="right"))
                if cutoff > 0:
                    self._bulk_add(fps[:cutoff][admit[:cutoff]])
                raise CapacityExceeded(
                    f"admitting {n_admit} would exceed capacity {self.capacity()}")
        self._bulk_add(fps[admit])
        return n_admit

    def _bulk_add(self, fps: np.ndarray) -> None:
        if fps.size == 0:
            return
        merged = np.concatenate([self._fps, fps])
        # default (introsort), not stable: this sorts plain uint64 values, and
        # equal keys are indistinguishable — stability buys nothing and this
        # numpy's stable u64 path is ~7x slower (0.21s vs 0.03s at 1.9M)
        merged.sort()
        self._fps = merged

    def remove_hashes(self, hashes: np.ndarray) -> int:
        """Batch remove: one occurrence per request, if present.

        Returns the number actually removed. Multiset semantics match a
        sequence of ``remove_fingerprint`` calls (order-independent result:
        per fingerprint, removed = min(requests, present)). This is the
        retraction kernel for distributed counting filters (SURVEY.md §7
        "counting-remove semantics distributed").
        """
        fps = np.asarray(hashes, dtype=np.uint64) & self._fp_mask()
        if fps.size == 0 or self._fps.size == 0:
            return 0
        req_fp, req_n = np.unique(fps, return_counts=True)
        lo = np.searchsorted(self._fps, req_fp, side="left")
        hi = np.searchsorted(self._fps, req_fp, side="right")
        present = hi - lo
        take = np.minimum(req_n, present)
        removed = int(take.sum())
        if removed == 0:
            return 0
        # keep (present - take) copies of each requested fp: drop a prefix of
        # each equal-run (all copies are identical values)
        drop = np.zeros(self._fps.size + 1, dtype=np.int64)
        starts = lo
        np.add.at(drop, starts, 1)
        np.add.at(drop, starts + take, -1)
        in_drop = np.cumsum(drop[:-1]) > 0
        self._fps = self._fps[~in_drop]
        return removed

    # ------------------------------------------------------------------
    # merge / grow / shrink (src/lib.rs:1311-1377)
    # ------------------------------------------------------------------
    def merge(self, keep_duplicates: bool, other: "Filter") -> None:
        """Merge ``other`` into ``self`` (src/lib.rs:1330-1352).

        ``other`` must have fingerprint size >= ours; its fingerprints are
        truncated to our fingerprint size (low bits are a stable prefix).
        Does NOT auto-grow (the reference calls insert_impl directly); on
        CapacityExceeded the filter is left valid but full.
        """
        if other.fingerprint_size() < self.fingerprint_size():
            raise IncompatibleFingerprintSize(
                f"other fp size {other.fingerprint_size()} < self {self.fingerprint_size()}")
        max_count = _U64_MAX if keep_duplicates else 1
        self.insert_hashes(other._fps, max_count=max_count, auto_grow=False)

    def _grow_if_possible(self) -> None:
        if self.max_qbits is not None and self.max_qbits > self.qbits:
            self.grow()
        else:
            raise CapacityExceeded("filter is full and cannot grow")

    def grow(self) -> None:
        """qbits+1 / rbits-1: fingerprint size invariant, FPR doubles
        (src/lib.rs:1365-1377, doc src/lib.rs:420-423). A canonical-form
        no-op on the fingerprint multiset."""
        if self.rbits <= 1:
            raise NotEnoughFingerprintBits("cannot grow with rbits == 1")
        self.qbits += 1
        self.rbits -= 1

    def shrink_to_fit(self) -> None:
        """qbits-1 / rbits+1 when at most half full (src/lib.rs:1311-1328)."""
        if self.total_blocks() > 1 and len(self) <= self.capacity() // 2:
            self.qbits -= 1
            self.rbits += 1

    # ------------------------------------------------------------------
    # serialization
    # ------------------------------------------------------------------
    def to_bytes(self, fmt: str = "blocks") -> bytes:
        """Serialize. ``blocks`` = reference physical layout (offset byte +
        occupieds + runends + packed remainders per 64-slot block);
        ``fps`` = raw sorted uint64 fingerprints (wire format for merges)."""
        mq = 0 if self.max_qbits is None else self.max_qbits
        if fmt == "fps":
            head = _HEADER.pack(_MAGIC, _FMT_FPS, self.qbits, self.rbits, mq, len(self))
            return head + self._fps.tobytes()
        if fmt == "blocks":
            from . import blocks
            head = _HEADER.pack(_MAGIC, _FMT_BLOCKS, self.qbits, self.rbits, mq, len(self))
            return head + blocks.encode(self._fps, self.qbits, self.rbits)
        raise ValueError(f"unknown format {fmt!r}")

    @classmethod
    def from_bytes(cls, data) -> "Filter":
        """Deserialize from bytes or memoryview.

        Zero-copy for the ``fps`` wire format: the fingerprint array is a
        read-only view onto the input buffer (no mutation ever happens in
        place — every mutator builds a new array), so decoding a blob is
        O(1) regardless of size.
        """
        mv = memoryview(data)
        magic, fmt, q, r, mq, n = _HEADER.unpack_from(mv, 0)
        if magic != _MAGIC:
            raise ValueError("bad magic")
        if fmt == _FMT_FPS:
            fps = np.frombuffer(mv, dtype=np.uint64, count=n, offset=_HEADER.size)
        elif fmt == _FMT_BLOCKS:
            from . import blocks
            if q < 6:
                raise ValueError(f"blocks header qbits={q}: the layout "
                                 f"needs whole 64-slot blocks (qbits >= 6)")
            fps = blocks.decode(mv[_HEADER.size:], q, r, n)
        else:
            raise ValueError(f"unknown format byte {fmt}")
        return cls(q, r, mq if mq else None, fps)

    def __repr__(self) -> str:
        return (f"Filter(qbits={self.qbits}, rbits={self.rbits}, "
                f"max_qbits={self.max_qbits}, len={len(self)}, "
                f"capacity={self.capacity()})")

    def debug_dump(self, max_blocks: int = 4) -> str:
        """Physical-layout diagnostic, mirroring the reference's printout
        (src/lib.rs:1413-1446): per-block offset byte + occupieds/runends
        bitvectors rendered from the blocked encoding."""
        from . import blocks as _blocks
        lines = [f"=== q {self.qbits} r {self.rbits} len {len(self)} "
                 f"cap {self.capacity()} ==="]
        payload = np.frombuffer(_blocks.encode(self._fps, self.qbits, self.rbits),
                                dtype=np.uint8).reshape(self.total_blocks(), -1)
        for b in range(min(self.total_blocks(), max_blocks)):
            row = payload[b]
            occ = int.from_bytes(row[1:9].tobytes(), "little")
            run = int.from_bytes(row[9:17].tobytes(), "little")
            lines.append(f"block {b} offset {row[0]}")
            lines.append(f"occup {occ:064b}")
            lines.append(f"runen {run:064b}")
        if self.total_blocks() > max_blocks:
            lines.append(f"... {self.total_blocks() - max_blocks} more blocks")
        lines.append("===")
        return "\n".join(lines)
