"""Mergeable sketch states (numpy) with a common binary codec.

north_rule inventory: RSQF (qfilter_spark.rsqf), Bloom, HLL, count-min,
KLL, t-digest — all associative/commutative merges (SURVEY.md §2.3).
"""

from .base import HASH_PROBE_KINDS, KIND_NAMES, kind_of, loads
from .bloom import BloomFilter
from .cms import CountMinSketch
from .hll import HllSketch
from .kll import KllSketch
from .rsqf_adapter import RsqfSketch
from .tdigest import TDigest
from .topk import TopKSketch


def create(kind: str, **params):
    """Factory: create('hll', p=14), create('rsqf', capacity=..., fp_rate=...)."""
    classes = {
        "rsqf": RsqfSketch,
        "bloom": BloomFilter,
        "hll": HllSketch,
        "cms": CountMinSketch,
        "kll": KllSketch,
        "tdigest": TDigest,
        "topk": TopKSketch,
    }
    if kind not in classes:
        raise ValueError(
            f"unknown sketch kind {kind!r}; known kinds: {', '.join(classes)}")
    return classes[kind].create(**params)


__all__ = [
    "BloomFilter", "CountMinSketch", "HllSketch", "KllSketch",
    "RsqfSketch", "TDigest", "TopKSketch", "loads", "create", "KIND_NAMES",
    "HASH_PROBE_KINDS", "kind_of",
]
