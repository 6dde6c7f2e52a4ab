"""Misra-Gries heavy-hitters summary as a mergeable numpy state.

Extension beyond the north_rule's five siblings: the natural "top tokens"
sketch for training-data pipelines. Guarantees (Misra & Gries 1982;
mergeability per Agarwal et al., "Mergeable Summaries", PODS 2012):

- any item with true count > n/k is present in the summary;
- est(x) <= true(x) <= est(x) + err, with err <= n/k overall
  (the summary tracks its exact ``err`` bound through merges).

Merge law: combine count maps, subtract the (k+1)-th largest combined
count, drop non-positives — associative up to the tracked error bound,
deterministic for a fixed merge order (groups sort by shard like the other
weakly-order-dependent summaries).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_TOPK, frame, register

_HDR = struct.Struct("<IQQI")  # k, n_total, err, n_entries


class TopKSketch:
    kind = "topk"

    def __init__(self, k: int = 64, keys: np.ndarray | None = None,
                 counts: np.ndarray | None = None, n_total: int = 0,
                 err: int = 0):
        self.k = k
        self.keys = keys if keys is not None else np.empty(0, dtype=np.uint64)
        self.counts = counts if counts is not None else np.empty(0, dtype=np.int64)
        self.n_total = n_total
        self.err = err  # max undercount of any tracked estimate

    @classmethod
    def create(cls, k: int = 64) -> "TopKSketch":
        return cls(k=k)

    def _trim(self, keys: np.ndarray, counts: np.ndarray) -> None:
        """Keep the k largest; add the (k+1)-th count to the error budget
        and subtract it from survivors (classic MG decrement, batched)."""
        if keys.size > self.k:
            order = np.argsort(counts, kind="stable")[::-1]
            cut = int(counts[order[self.k]])
            keep = order[:self.k]
            keys, counts = keys[keep], counts[keep] - cut
            pos = counts > 0
            keys, counts = keys[pos], counts[pos]
            self.err += cut
        srt = np.argsort(keys, kind="stable")
        self.keys, self.counts = keys[srt], counts[srt]

    def update_hashes(self, hashes: np.ndarray,
                      weights: np.ndarray | None = None) -> None:
        h = np.asarray(hashes, dtype=np.uint64)
        w = (np.ones(h.size, dtype=np.int64) if weights is None
             else np.asarray(weights, dtype=np.int64))
        uk, inv = np.unique(h, return_inverse=True)
        uc = np.bincount(inv, weights=w.astype(np.float64)).astype(np.int64)
        keys = np.concatenate([self.keys, uk])
        counts = np.concatenate([self.counts, uc])
        # combine duplicates between existing and incoming
        uk2, inv2 = np.unique(keys, return_inverse=True)
        uc2 = np.bincount(inv2, weights=counts.astype(np.float64)).astype(np.int64)
        self.n_total += int(w.sum())
        self._trim(uk2, uc2)

    def estimate_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Lower-bound estimates (0 if untracked); true <= est + self.err."""
        h = np.asarray(hashes, dtype=np.uint64)
        idx = np.searchsorted(self.keys, h)
        idx = np.minimum(idx, max(self.keys.size - 1, 0))
        if self.keys.size == 0:
            return np.zeros(h.size, dtype=np.int64)
        hit = self.keys[idx] == h
        return np.where(hit, self.counts[idx], 0).astype(np.int64)

    def merge(self, other: "TopKSketch") -> None:
        if self.k != other.k:
            raise ValueError("incompatible top-k capacity")
        keys = np.concatenate([self.keys, other.keys])
        counts = np.concatenate([self.counts, other.counts])
        uk, inv = np.unique(keys, return_inverse=True)
        uc = np.bincount(inv, weights=counts.astype(np.float64)).astype(np.int64)
        self.n_total += other.n_total
        self.err += other.err
        self._trim(uk, uc)

    def to_bytes(self) -> bytes:
        head = _HDR.pack(self.k, self.n_total, self.err, self.keys.size)
        return frame(KIND_TOPK, head + self.keys.tobytes() + self.counts.tobytes())

    @classmethod
    def _decode(cls, payload: bytes) -> "TopKSketch":
        if len(payload) < _HDR.size:
            raise ValueError("corrupt top-k blob: truncated header")
        k, n, err, m = _HDR.unpack_from(payload, 0)
        if k == 0:
            raise ValueError("corrupt top-k blob: zero capacity")
        if len(payload) - _HDR.size != 16 * m:
            raise ValueError(
                f"corrupt top-k blob: payload length "
                f"{len(payload) - _HDR.size} != 16*{m} entry bytes")
        off = _HDR.size
        keys = np.frombuffer(payload, dtype=np.uint64, offset=off, count=m).copy()
        off += 8 * m
        counts = np.frombuffer(payload, dtype=np.int64, offset=off, count=m).copy()
        # estimate_hashes searchsorted-s keys: _trim always stores them
        # sorted, so unsorted keys are corruption that would silently
        # return 0 for tracked items
        if keys.size > 1 and (keys[1:] < keys[:-1]).any():
            raise ValueError("corrupt top-k blob: keys not sorted")
        return cls(k, keys, counts, n, err)


register(KIND_TOPK)(TopKSketch._decode)
