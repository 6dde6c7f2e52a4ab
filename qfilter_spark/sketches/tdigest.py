"""Merging t-digest (Dunning & Ertl, "Computing extremely accurate quantiles
using t-digests", 2019) as a mergeable numpy state.

Sibling sketch required by the north_rule. Uses the k1 scale function
(asin-based) with a fully deterministic merge pass, so partial aggregation is
reproducible; quantile accuracy is highest at the tails. Tests assert
quantile error bounds vs exact answers, not bit-equality across merge orders
(SURVEY.md §2.3 merge-law note).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import KIND_TDIGEST, frame, register

_HDR = struct.Struct("<dQI")  # compression, n, n_centroids


class TDigest:
    kind = "tdigest"

    def __init__(self, compression: float = 200.0,
                 means: np.ndarray | None = None,
                 weights: np.ndarray | None = None,
                 n: int = 0):
        self.compression = float(compression)
        self.means = means if means is not None else np.empty(0, dtype=np.float64)
        self.weights = weights if weights is not None else np.empty(0, dtype=np.float64)
        self.n = n
        self._buf_v: list[np.ndarray] = []
        self._buf_w: list[np.ndarray] = []

    @classmethod
    def create(cls, compression: float = 200.0) -> "TDigest":
        return cls(compression)

    # ------------------------------------------------------------------
    def update_values(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        v = np.asarray(values, dtype=np.float64)
        mask = ~np.isnan(v)
        v = v[mask]
        if v.size == 0:
            return
        w = (np.ones(v.size) if weights is None
             else np.asarray(weights, dtype=np.float64)[mask])
        self._buf_v.append(v)
        self._buf_w.append(w)
        self.n += int(w.sum())
        if sum(b.size for b in self._buf_v) > 16 * self.compression:
            self._flush()

    def _flush(self) -> None:
        if not self._buf_v:
            # means/weights came from a previous flush; re-running the
            # greedy pass on its own output is (at best) a no-op and (at
            # worst) an extra compaction that would make estimates depend
            # on how many times quantile() was called — skip it
            return
        v = np.concatenate([self.means] + self._buf_v)
        w = np.concatenate([self.weights] + self._buf_w)
        self._buf_v, self._buf_w = [], []
        if v.size == 0:
            return
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        total = w.sum()
        # greedy left-to-right merge under the k1 size bound, vectorized:
        # a centroid starting at k_left absorbs every point whose cumulative
        # weight stays <= total * k1_inv(k_left + 1), so each cut point is
        # one searchsorted into the cumulative-weight array. The loop runs
        # once per OUTPUT centroid (~compression), not once per point.
        cum = np.cumsum(w)
        delta = self.compression
        two_pi = 2.0 * np.pi
        k_max = delta / 4.0  # k1(1) = (delta/2pi) * asin(1)
        cuts = []            # exclusive end index of each centroid
        start = 0
        cum_before = 0.0
        n = v.size
        while start < n:
            k_left = (delta / two_pi) * np.arcsin(
                np.clip(2.0 * cum_before / total - 1.0, -1.0, 1.0))
            k_bound = k_left + 1.0
            if k_bound >= k_max:
                j = n
            else:
                q_max = (np.sin(two_pi * k_bound / delta) + 1.0) / 2.0
                j = int(np.searchsorted(cum, q_max * total, side="right"))
                j = min(max(j, start + 1), n)  # at least one point per centroid
            cuts.append(j)
            cum_before = cum[j - 1]
            start = j
        starts = np.concatenate([[0], np.asarray(cuts[:-1], dtype=np.int64)])
        seg_w = np.add.reduceat(w, starts)
        seg_vw = np.add.reduceat(v * w, starts)
        self.means = seg_vw / seg_w
        self.weights = seg_w

    # ------------------------------------------------------------------
    def quantile(self, q) -> np.ndarray | float:
        self._flush()
        scalar = np.isscalar(q)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if self.means.size == 0:
            out = np.full(qs.size, np.nan)
            return float(out[0]) if scalar else out
        if self.means.size == 1:
            out = np.full(qs.size, self.means[0])
            return float(out[0]) if scalar else out
        total = self.weights.sum()
        # centroid "centers" in cumulative-weight space
        cum = np.cumsum(self.weights) - self.weights / 2.0
        targets = qs * total
        out = np.interp(targets, cum, self.means,
                        left=self.means[0], right=self.means[-1])
        return float(out[0]) if scalar else out

    def merge(self, other: "TDigest") -> None:
        if self.compression != other.compression:
            raise ValueError("incompatible t-digest compression")
        other._flush()
        if other.means.size:
            self._buf_v.append(other.means.copy())
            self._buf_w.append(other.weights.copy())
        self.n += other.n
        self._flush()

    def to_bytes(self) -> bytes:
        self._flush()
        head = _HDR.pack(self.compression, self.n, self.means.size)
        return frame(KIND_TDIGEST, head + self.means.tobytes() + self.weights.tobytes())

    @classmethod
    def _decode(cls, payload: bytes) -> "TDigest":
        if len(payload) < _HDR.size:
            raise ValueError("corrupt t-digest blob: truncated header")
        comp, n, k = _HDR.unpack_from(payload, 0)
        if not np.isfinite(comp) or comp <= 0.0:
            raise ValueError(f"corrupt t-digest blob: compression {comp}")
        if len(payload) - _HDR.size != 16 * k:
            raise ValueError(
                f"corrupt t-digest blob: payload length "
                f"{len(payload) - _HDR.size} != 16*{k} centroid bytes")
        off = _HDR.size
        means = np.frombuffer(payload, dtype=np.float64, offset=off, count=k).copy()
        off += 8 * k
        weights = np.frombuffer(payload, dtype=np.float64, offset=off, count=k).copy()
        return cls(comp, means, weights, n)


register(KIND_TDIGEST)(TDigest._decode)
