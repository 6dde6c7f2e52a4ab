"""Codec failure-mode review of the sibling-sketch family (round-5 lens).

The RSQF codec and the reference-interop codec were hardened against
malformed inputs in earlier reviews (tests/test_interop.py); this file
closes the same class of gaps for the sibling sketches, uniformly:

- ``loads`` on a blob shorter than the 4-byte frame must raise ValueError
  (it indexed past a 3-byte ``QSK`` prefix before);
- every ``_decode`` must reject parameter values its constructor/ops can't
  honor (HLL precision out of range, Bloom m_bits not a word multiple,
  CMS/TopK zero dimensions, t-digest non-finite compression, KLL zero
  levels — each previously produced a sketch that failed far from the
  corruption, or silently computed garbage);
- payload length must match the header's claimed geometry exactly —
  trailing bytes after the last buffer are corruption, not padding
  (truncation already raised via numpy's short-buffer ValueError).

Every corruption here is a single-field mutation of a valid blob, so the
tests double as wire-layout documentation.
"""

import math
import struct

import numpy as np
import pytest

from qfilter_spark.hashing import xxh64_i64
from qfilter_spark.rsqf import _HEADER, Filter
from qfilter_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HllSketch,
    KllSketch,
    TDigest,
    TopKSketch,
    loads,
)


def hashes_of(ints):
    return xxh64_i64(np.asarray(ints, dtype=np.int64))


def _valid_blobs():
    bf = BloomFilter.create(500, 0.01)
    bf.update_hashes(hashes_of(np.arange(200)))
    cms = CountMinSketch.create(eps=0.01, delta=0.1)
    cms.update_hashes(hashes_of(np.arange(200)))
    hll = HllSketch.create(p=6)
    hll.update_hashes(hashes_of(np.arange(200)))
    kll = KllSketch.create(k=32)
    kll.update_values(np.arange(500, dtype=np.float64))
    td = TDigest.create(compression=50.0)
    td.update_values(np.arange(500, dtype=np.float64))
    tk = TopKSketch.create(k=8)
    # skewed counts so MG's trim leaves survivors (uniform counts all
    # cancel against the (k+1)-th count and the summary comes back empty)
    tk.update_hashes(hashes_of(np.repeat(np.arange(12), np.arange(12) + 1)))
    return {s.kind: s.to_bytes() for s in (bf, cms, hll, kll, td, tk)}


BLOBS = _valid_blobs()


# ---------------------------------------------------------------------------
# frame-level
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("blob", [b"", b"Q", b"QS", b"QSK"])
def test_loads_short_frame_is_value_error(blob):
    with pytest.raises(ValueError):
        loads(blob)


def test_loads_roundtrips_every_kind():
    for kind, blob in BLOBS.items():
        assert loads(blob).kind == kind


@pytest.mark.parametrize("kind", sorted(BLOBS))
def test_trailing_bytes_rejected(kind):
    with pytest.raises(ValueError, match="trailing|length"):
        loads(BLOBS[kind] + b"\x00")


@pytest.mark.parametrize("kind", sorted(BLOBS))
def test_truncation_rejected_everywhere(kind):
    """Every strict prefix must fail loudly, never decode to a sketch
    that silently lost state."""
    blob = BLOBS[kind]
    step = max(1, len(blob) // 64)
    for cut in range(4, len(blob), step):
        with pytest.raises(ValueError):
            loads(blob[:cut])


# ---------------------------------------------------------------------------
# per-kind header corruption (single-field mutations of valid blobs)
# ---------------------------------------------------------------------------

def _patched(kind: str, offset: int, fmt: str, value) -> bytes:
    """The valid blob for `kind` with one header field overwritten.
    Offsets are relative to the payload (frame header is 4 bytes)."""
    blob = bytearray(BLOBS[kind])
    struct.pack_into(fmt, blob, 4 + offset, value)
    return bytes(blob)


def test_hll_bad_precision_rejected():
    for p in (0, 3, 19, 255):
        with pytest.raises(ValueError, match="HLL"):
            loads(_patched("hll", 0, "<B", p))


def test_hll_register_count_must_match_precision():
    # valid precision, but the register payload is for p=6
    with pytest.raises(ValueError, match="HLL"):
        loads(_patched("hll", 0, "<B", 7))


def test_bloom_bad_geometry_rejected():
    m_bits = BloomFilter._decode(BLOBS["bloom"][4:]).m_bits
    for bad_m in (0, 63, m_bits - 1, m_bits + 64):
        with pytest.raises(ValueError, match="Bloom"):
            loads(_patched("bloom", 0, "<Q", bad_m))
    with pytest.raises(ValueError, match="Bloom"):
        loads(_patched("bloom", 8, "<I", 0))  # k = 0


def test_cms_bad_geometry_rejected():
    d = CountMinSketch._decode(BLOBS["cms"][4:]).depth
    for off, val in ((0, 0), (4, 0), (0, d + 1)):
        with pytest.raises(ValueError, match="CMS"):
            loads(_patched("cms", off, "<I", val))


def test_kll_zero_levels_rejected():
    # a decoded sketch with no level arrays would IndexError on the next
    # update_values (levels[0]); reject at decode time instead
    blob = bytearray(BLOBS["kll"])
    struct.pack_into("<B", blob, 4 + 12, 0)  # num_levels after <IQ>
    with pytest.raises(ValueError, match="KLL"):
        loads(bytes(blob))


def test_kll_level_size_overrun_rejected():
    k, n, h = struct.unpack_from("<IQB", BLOBS["kll"], 4)
    sizes_off = 4 + 13 + 8  # header + flags
    first = struct.unpack_from("<q", BLOBS["kll"], sizes_off)[0]
    with pytest.raises(ValueError):
        loads(_patched("kll", 13 + 8, "<q", first + 10**6))


def test_tdigest_bad_compression_rejected():
    for comp in (0.0, -1.0, math.nan, math.inf):
        with pytest.raises(ValueError, match="t-digest"):
            loads(_patched("tdigest", 0, "<d", comp))


def test_topk_zero_capacity_rejected():
    with pytest.raises(ValueError, match="top-k"):
        loads(_patched("topk", 0, "<I", 0))


def test_topk_entry_count_must_match_payload():
    m = TopKSketch._decode(BLOBS["topk"][4:]).keys.size
    assert m > 1
    with pytest.raises(ValueError):
        loads(_patched("topk", 20, "<I", m - 1))  # shorter than payload


# ---------------------------------------------------------------------------
# decoded sketches must be immediately usable (the corruption-free side
# of the same contract: decode -> update -> merge never trips on state
# the codec failed to restore)
# ---------------------------------------------------------------------------

def test_decoded_sketches_accept_updates_and_merges():
    fresh = hashes_of(np.arange(1000, 1100))
    for kind, blob in BLOBS.items():
        a, b = loads(blob), loads(blob)
        if hasattr(a, "update_hashes"):
            a.update_hashes(fresh)
        else:
            a.update_values(np.linspace(-5, 5, 100))
        a.merge(b)
        assert loads(a.to_bytes()).kind == kind


def test_topk_unsorted_keys_rejected():
    # estimate_hashes searchsorted-s keys; permuted key bytes in a
    # geometry-intact blob would silently estimate 0 for tracked items
    blob = bytearray(BLOBS["topk"])
    m = TopKSketch._decode(BLOBS["topk"][4:]).keys.size
    off = 4 + 24  # frame + <IQQ> header
    first = struct.unpack_from("<Q", blob, off)[0]
    last = struct.unpack_from("<Q", blob, off + 8 * (m - 1))[0]
    struct.pack_into("<Q", blob, off, last)
    struct.pack_into("<Q", blob, off + 8 * (m - 1), first)
    with pytest.raises(ValueError, match="not sorted"):
        loads(bytes(blob))


# ---------------------------------------------------------------------------
# RSQF at-rest blocks layout (Filter.to_bytes("blocks"))
# ---------------------------------------------------------------------------

def _rsqf_blocks_blob(**fields):
    f = Filter.new(1000, 0.01)
    f.insert_hashes(hashes_of(np.arange(500)))
    blob = bytearray(f.to_bytes("blocks"))
    magic, fmt, q, r, mq, n = _HEADER.unpack_from(blob)
    assert n == 500
    head = dict(magic=magic, fmt=fmt, q=q, r=r, mq=mq, n=n)
    head.update(fields)
    _HEADER.pack_into(blob, 0, *head.values())
    return bytes(blob)


@pytest.mark.parametrize("delta", [-1, 1])
def test_rsqf_blocks_length_off_by_one_rejected(delta):
    # the decoded count must match the header's, under -O too
    with pytest.raises(ValueError, match="header says"):
        Filter.from_bytes(_rsqf_blocks_blob(n=500 + delta))


def test_rsqf_blocks_qbits_below_one_block_rejected():
    with pytest.raises(ValueError, match="qbits"):
        Filter.from_bytes(_rsqf_blocks_blob(q=5))
    with pytest.raises(ValueError, match="qbits"):
        Filter(5, 7).to_bytes("blocks")
