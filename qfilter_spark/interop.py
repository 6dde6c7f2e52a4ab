"""Interop with the reference's serde blob formats (decision record + codec).

Round-1 left "can we read/write a Rust qfilter blob?" open. Decision:
YES, ship a small codec. The Rust ``qfilter::Filter`` derives
Serialize/Deserialize with five fields (src/lib.rs:84-106):

    b  physical block buffer (1B offset + 8B occupieds + 8B runends +
       64*rbits/8 remainder bytes per 64-slot block; src/lib.rs:468-486,
       570-572)
    l  number of stored fingerprints (u64)
    q  qbits (NonZeroU8)
    r  rbits (NonZeroU8)
    g  optional max_qbits (Option<NonZeroU8>, omitted/None when absent)

qfilter_spark's at-rest blocked layout (qfilter_spark.blocks) reproduces
that buffer byte layout, so interop is a thin carrier around it. Two
public serde carriers are supported:

- **bincode v1** (the de-facto Rust binary choice; fixed-width ints,
  little-endian, u64 length prefix for byte buffers, 1-byte Option tag)
- **JSON** (serde_json; ``serde_bytes`` renders the buffer as a JSON
  array of byte values)

Caveat: the byte-for-byte equivalence of the buffer rests on the physical
state being a pure function of the sorted fingerprint multiset (the
canonical-form argument, SURVEY.md §1.1) and on blocks.py's placement
matching the reference's insertion fixed point — property-tested in
tests/test_blocks.py; no Rust toolchain exists in this sandbox for a live
cross-check, so structural layout is additionally asserted in
tests/test_interop.py.
"""

from __future__ import annotations

import json
import struct

import numpy as np

from . import blocks
from .rsqf import Filter


def _buffer_of(f: Filter) -> bytes:
    return blocks.encode(f._fps, f.qbits, f.rbits)


def _expected_buffer_len(qbits: int, rbits: int) -> int:
    n_blocks = (1 << qbits) // 64
    return n_blocks * (1 + 16 + 64 * rbits // 8)


def to_reference_bincode(f: Filter) -> bytes:
    """Serialize to the bincode-v1 encoding of the reference struct."""
    buf = _buffer_of(f)
    out = struct.pack("<Q", len(buf)) + buf + struct.pack("<Q", len(f))
    out += struct.pack("<BB", f.qbits, f.rbits)
    if f.max_qbits is None:
        out += b"\x00"
    else:
        out += struct.pack("<BB", 1, f.max_qbits)
    return out


def _validated_decode(buf: bytes, qbits: int, rbits: int, length: int,
                      max_qbits) -> Filter:
    """Shared header/body validation for both carriers: reject blobs the
    reference could never have written BEFORE handing the buffer to the
    vectorized decoder, and turn decoder inconsistencies (corrupt
    occupieds/runends bitvectors) into one clear ValueError instead of a
    numpy IndexError deep in rank/select."""
    if not (6 <= qbits and 1 <= rbits and qbits + rbits <= 64):
        # qbits>=6: the blocked layout is whole 64-slot blocks; q/r are
        # NonZeroU8 in the reference and fingerprints are <= 64 bits
        raise ValueError(f"invalid header qbits={qbits} rbits={rbits}")
    if max_qbits is not None and not (qbits <= max_qbits <= qbits + rbits - 1):
        # growth keeps the fingerprint size: each grow takes one bit from
        # the remainder, so rbits at max_qbits must stay >= 1
        raise ValueError(f"invalid max_qbits={max_qbits} for "
                         f"q={qbits} r={rbits}")
    if length > (1 << qbits):
        raise ValueError(f"length {length} exceeds {1 << qbits} slots")
    if len(buf) != _expected_buffer_len(qbits, rbits):
        raise ValueError(
            f"buffer length {len(buf)} != expected "
            f"{_expected_buffer_len(qbits, rbits)} for q={qbits} r={rbits}")
    try:
        fps = blocks.decode(buf, qbits, rbits, length)
    except (IndexError, ValueError) as e:
        raise ValueError(f"corrupt block buffer: {e}") from None
    return Filter(qbits, rbits, max_qbits, fps)


def from_reference_bincode(data) -> Filter:
    mv = memoryview(data)
    try:
        (blen,) = struct.unpack_from("<Q", mv, 0)
        off = 8
        if blen > len(mv) - off:
            raise ValueError(f"buffer length {blen} overruns input "
                             f"({len(mv)} bytes)")
        buf = bytes(mv[off:off + blen])
        off += blen
        (length,) = struct.unpack_from("<Q", mv, off)
        off += 8
        qbits, rbits = struct.unpack_from("<BB", mv, off)
        off += 2
        tag = mv[off]
        off += 1
        max_qbits = None
        if tag == 1:
            max_qbits = mv[off]
            off += 1
        elif tag != 0:
            raise ValueError(f"invalid Option tag {tag} (expected 0 or 1)")
    except (struct.error, IndexError):
        raise ValueError(
            f"truncated bincode blob ({len(mv)} bytes)") from None
    if off != len(mv):
        raise ValueError(f"{len(mv) - off} trailing bytes after blob")
    return _validated_decode(buf, qbits, rbits, length, max_qbits)


def to_reference_json(f: Filter) -> str:
    """Serialize to the serde_json encoding of the reference struct."""
    obj = {
        "b": list(_buffer_of(f)),
        "l": len(f),
        "q": f.qbits,
        "r": f.rbits,
    }
    if f.max_qbits is not None:
        obj["g"] = f.max_qbits
    return json.dumps(obj, separators=(",", ":"))


def from_reference_json(s: str | bytes) -> Filter:
    try:
        obj = json.loads(s)
    except json.JSONDecodeError as e:
        raise ValueError(f"malformed JSON blob: {e}") from None
    if not isinstance(obj, dict):
        raise ValueError(f"expected a JSON object, got {type(obj).__name__}")
    missing = {"b", "l", "q", "r"} - obj.keys()
    if missing:
        raise ValueError(f"missing fields {sorted(missing)}")
    try:
        buf = bytes(obj["b"])
        qbits, rbits, length = int(obj["q"]), int(obj["r"]), int(obj["l"])
        g = obj.get("g")
        max_qbits = None if g is None else int(g)
        if length < 0:
            raise ValueError("negative length")
    except (TypeError, ValueError) as e:
        raise ValueError(f"malformed field: {e}") from None
    return _validated_decode(buf, qbits, rbits, length, max_qbits)
