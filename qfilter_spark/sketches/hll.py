"""HyperLogLog with Ertl's improved (bias-table-free) estimator.

Sibling sketch required by the north_rule. Merge law = elementwise register
max (associative/commutative/idempotent). Estimator follows Otmar Ertl,
"New cardinality estimation algorithms for HyperLogLog sketches" (2017),
Eq. (6) with the sigma/tau helper series — no empirical bias correction
tables needed, accurate across the full cardinality range.

Cross-check oracle in tests: Spark's ``approx_count_distinct`` and exact
``count(distinct)``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from ..bitops import trailing_zeros64
from .base import KIND_HLL, frame, register

_HDR = struct.Struct("<B")


def _sigma(x: float) -> float:
    if x == 1.0:
        return math.inf
    y, z = 1.0, x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prev:
            return z / 3.0


class HllSketch:
    kind = "hll"

    def __init__(self, p: int = 14, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:
            raise ValueError(f"HLL precision {p} out of range 4..18")
        self.p = p
        self.m = 1 << p
        self.registers = (np.zeros(self.m, dtype=np.uint8)
                          if registers is None else registers)

    @classmethod
    def create(cls, rsd: float | None = None, p: int = 14) -> "HllSketch":
        """rsd (relative standard deviation) -> p, like Spark's HLL++ param."""
        if rsd is not None:
            p = max(4, min(18, math.ceil(2.0 * math.log2(1.106 / rsd))))
        return cls(p)

    def relative_sd(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def update_hashes(self, hashes: np.ndarray) -> None:
        h = np.asarray(hashes, dtype=np.uint64)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        # rho over the low 64-p bits: trailing-zero count + 1, capped
        tail = h | (np.uint64(1) << np.uint64(64 - self.p))
        rho = (trailing_zeros64(tail) + np.uint8(1)).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)

    def estimate(self) -> float:
        q = 64 - self.p
        counts = np.bincount(self.registers, minlength=q + 2)
        m = float(self.m)
        z = m * _tau(1.0 - counts[q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + float(counts[k]))
        z += m * _sigma(counts[0] / m)
        alpha_inf = 0.5 / math.log(2.0)
        return alpha_inf * m * m / z

    def merge(self, other: "HllSketch") -> None:
        if self.p != other.p:
            raise ValueError("incompatible HLL precision")
        np.maximum(self.registers, other.registers, out=self.registers)

    def to_bytes(self) -> bytes:
        return frame(KIND_HLL, _HDR.pack(self.p) + self.registers.tobytes())

    @classmethod
    def _decode(cls, payload: bytes) -> "HllSketch":
        if len(payload) < _HDR.size:
            raise ValueError("corrupt HLL blob: truncated header")
        (p,) = _HDR.unpack_from(payload, 0)
        if not 4 <= p <= 18:
            raise ValueError(f"corrupt HLL blob: precision {p} out of range")
        regs = np.frombuffer(payload, dtype=np.uint8, offset=_HDR.size)
        if regs.size != 1 << p:
            raise ValueError(
                f"corrupt HLL blob: payload length {regs.size} != "
                f"2^p registers ({1 << p})")
        return cls(p, regs.copy())


register(KIND_HLL)(HllSketch._decode)
