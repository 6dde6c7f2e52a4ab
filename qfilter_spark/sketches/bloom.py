"""Classic Bloom filter as a mergeable numpy state.

Sibling sketch required by the north_rule; merge law = bitwise OR
(associative/commutative, like the reference's multiset-union merge,
/root/reference/src/lib.rs:1343-1352). Spark's own ``bloom_filter_agg`` /
``might_contain`` serve as cross-check oracles in tests, never as the
implementation.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..hashing import xxh64_u64
from .base import KIND_BLOOM, frame, register

_HDR = struct.Struct("<QIQ")  # m_bits, k, n_added

_ODD = np.uint64(0x9E3779B97F4A7C15)


class BloomFilter:
    kind = "bloom"

    def __init__(self, m_bits: int, k: int, words: np.ndarray | None = None,
                 n_added: int = 0):
        if m_bits <= 0 or m_bits % 64 != 0 or k < 1:
            raise ValueError(f"bad Bloom geometry m_bits={m_bits} k={k}: "
                             "m_bits must be a positive multiple of 64, k >= 1")
        self.m_bits = m_bits
        self.k = k
        self.words = (np.zeros(m_bits // 64, dtype=np.uint64)
                      if words is None else words)
        self.n_added = n_added

    @classmethod
    def create(cls, capacity: int, fp_rate: float) -> "BloomFilter":
        """Optimal sizing: m = -n ln p / ln^2 2, k = (m/n) ln 2."""
        capacity = max(1, capacity)
        fp_rate = min(max(fp_rate, 1e-15), 0.5)
        m = int(math.ceil(-capacity * math.log(fp_rate) / (math.log(2) ** 2)))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / capacity * math.log(2)))
        return cls(m, k)

    def _bit_positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit indexes via double hashing: h1 + i*h2 mod m."""
        with np.errstate(over="ignore"):
            h = np.asarray(hashes, dtype=np.uint64)
            h1 = h
            h2 = xxh64_u64(h, 0xB10F) | np.uint64(1)  # odd => full-period stride
            i = np.arange(self.k, dtype=np.uint64)
            return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.m_bits)

    def update_hashes(self, hashes: np.ndarray) -> None:
        pos = np.unique(self._bit_positions(hashes).ravel())  # sorted bits
        word_idx = (pos >> np.uint64(6)).astype(np.int64)
        bits = np.uint64(1) << (pos & np.uint64(63))
        # fold duplicate words with bitwise_or.reduceat on the sorted run
        # starts instead of unbuffered bitwise_or.at (~10-30x faster)
        starts = np.flatnonzero(np.diff(word_idx, prepend=-1))
        self.words[word_idx[starts]] |= np.bitwise_or.reduceat(bits, starts)
        self.n_added += int(np.asarray(hashes).size)

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes)
        out = np.empty(h.size, dtype=bool)
        ch = 65536  # keep the (chunk, k) position matrices cache-resident
        for s in range(0, h.size, ch):
            pos = self._bit_positions(h[s:s + ch])
            word_idx = (pos >> np.uint64(6)).astype(np.int64)
            bits = np.uint64(1) << (pos & np.uint64(63))
            hit = (self.words[word_idx] & bits) != 0
            out[s:s + ch] = hit.all(axis=1)
        return out

    def merge(self, other: "BloomFilter") -> None:
        if (self.m_bits, self.k) != (other.m_bits, other.k):
            raise ValueError("incompatible Bloom parameters")
        self.words |= other.words
        self.n_added += other.n_added

    def to_bytes(self) -> bytes:
        return frame(KIND_BLOOM,
                     _HDR.pack(self.m_bits, self.k, self.n_added) + self.words.tobytes())

    @classmethod
    def _decode(cls, payload: bytes) -> "BloomFilter":
        if len(payload) < _HDR.size:
            raise ValueError("corrupt Bloom blob: truncated header")
        m, k, n = _HDR.unpack_from(payload, 0)
        if m == 0 or m % 64 != 0 or k == 0:
            raise ValueError(f"corrupt Bloom blob: bad geometry m={m} k={k}")
        if len(payload) - _HDR.size != 8 * (m // 64):
            raise ValueError(
                f"corrupt Bloom blob: payload length "
                f"{len(payload) - _HDR.size} != m_bits/8 ({m // 8}) word bytes")
        words = np.frombuffer(payload, dtype=np.uint64, offset=_HDR.size)
        return cls(m, k, words.copy(), n)


register(KIND_BLOOM)(BloomFilter._decode)
