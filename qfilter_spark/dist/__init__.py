"""Distributed sketch building: partial per-partition build (mapInArrow),
tree merge (applyInPandas rounds), salted per-group builds, checkpointed
lineage, probing."""

from .agg import SketchSpec, build_sketch, build_grouped_sketches, partial_sketches, tree_merge
from .probe import probe_hashes

__all__ = [
    "SketchSpec", "build_sketch", "build_grouped_sketches",
    "partial_sketches", "tree_merge", "probe_hashes",
]
