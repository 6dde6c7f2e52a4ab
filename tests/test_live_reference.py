"""LIVE differential tests against the real reference implementation.

Rounds 1-4 carried "live Rust validation" as environment-blocked (no
toolchain); this round the toolchain exists, so the reference crate at
/root/reference is compiled as-is (scripts/live_reference/build_harness.py)
and driven through its PUBLIC fingerprint-level API via a line-protocol
subprocess. Every test feeds the identical operation sequence to the
reference Filter and to qfilter_spark.rsqf.Filter and compares every
observable: return values, len, capacity, fingerprint_size, error ratios,
and the full fingerprints() multiset.

Fingerprint-level only, by design: the Spark engine hashes items with
Spark-compatible XXH64 (hashing.py), the reference with xxh3 — the engines
intentionally differ in item->hash mapping, and all parity claims
(SURVEY.md §2.1) are at the hash/fingerprint level, which these tests
exercise end-to-end. The serde wire format keeps its hand-derived golden
coverage in test_interop.py (bincode/serde crates are not available
offline, so the serde feature cannot compile).

Skips cleanly when cargo or the reference checkout is absent.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent
                       / "scripts" / "live_reference"))
import build_harness  # noqa: E402

from qfilter_spark.errors import CapacityExceeded, IncompatibleFingerprintSize
from qfilter_spark.rsqf import Filter

U64 = (1 << 64) - 1

pytestmark = pytest.mark.skipif(
    not build_harness.cargo_available()
    or not (build_harness.reference_path() / "Cargo.toml").is_file(),
    reason="cargo toolchain or reference checkout not available")


@pytest.fixture(scope="session")
def harness_bin():
    return build_harness.ensure_harness()


class RefSession:
    """One live harness process; `cmd` is a single request/response turn."""

    def __init__(self, binary):
        self.proc = subprocess.Popen(
            [str(binary)], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1)

    def cmd(self, line: str) -> str:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return self.proc.stdout.readline().strip()

    def ok(self, line: str) -> str:
        r = self.cmd(line)
        assert r.startswith("ok") or r.startswith("id"), (line, r)
        return r.split(" ", 1)[1] if " " in r else ""

    def close(self):
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            pass
        self.proc.wait(timeout=10)


@pytest.fixture()
def ref(harness_bin):
    s = RefSession(harness_bin)
    yield s
    s.close()


class RefFilter:
    """The reference Filter behind the harness, one id per instance."""

    def __init__(self, sess: RefSession, ctor: str):
        self.s = sess
        r = sess.cmd(ctor)
        assert r.startswith("id "), r
        self.id = int(r.split()[1])

    @classmethod
    def new(cls, sess, cap, fp_rate):
        return cls(sess, f"new {cap} {fp_rate}")

    @classmethod
    def new_resizeable(cls, sess, icap, mcap, fp_rate):
        return cls(sess, f"new_resizeable {icap} {mcap} {fp_rate}")

    @classmethod
    def with_fingerprint_size(cls, sess, cap, bits):
        return cls(sess, f"with_fp_size {cap} {bits}")

    def insert_fingerprint(self, dup: bool, h: int):
        r = self.s.cmd(f"insert {self.id} {int(dup)} {h}")
        if r.startswith("err"):
            return ("err", r.split()[1])
        return ("ok", bool(int(r.split()[1])))

    def insert_fingerprint_counting(self, max_count: int, h: int):
        r = self.s.cmd(f"insert_counting {self.id} {max_count} {h}")
        if r.startswith("err"):
            return ("err", r.split()[1])
        return ("ok", int(r.split()[1]))

    def contains_fingerprint(self, h: int) -> bool:
        return bool(int(self.s.ok(f"contains {self.id} {h}")))

    def count_fingerprint(self, h: int) -> int:
        return int(self.s.ok(f"count {self.id} {h}"))

    def remove_fingerprint(self, h: int) -> bool:
        return bool(int(self.s.ok(f"remove {self.id} {h}")))

    def __len__(self):
        return int(self.s.ok(f"len {self.id}"))

    def capacity(self):
        return int(self.s.ok(f"capacity {self.id}"))

    def capacity_resizeable(self):
        return int(self.s.ok(f"capacity_resizeable {self.id}"))

    def fingerprint_size(self):
        return int(self.s.ok(f"fp_size {self.id}"))

    def max_error_ratio(self):
        return float(self.s.ok(f"max_err {self.id}"))

    def max_error_ratio_resizeable(self):
        return float(self.s.ok(f"max_err_resizeable {self.id}"))

    def current_error_ratio(self):
        return float(self.s.ok(f"cur_err {self.id}"))

    def fingerprints(self):
        body = self.s.ok(f"fingerprints {self.id}")
        return [int(x) for x in body.split()] if body else []

    def merge(self, keep: bool, other: "RefFilter"):
        r = self.s.cmd(f"merge {self.id} {int(keep)} {other.id}")
        return ("ok", None) if r == "ok" else ("err", r.split()[1])


def assert_same_state(ours: Filter, ref_f: RefFilter, check_fps=True):
    assert len(ours) == len(ref_f)
    assert ours.capacity() == ref_f.capacity()
    assert ours.fingerprint_size() == ref_f.fingerprint_size()
    assert ours.current_error_ratio() == pytest.approx(
        ref_f.current_error_ratio(), rel=1e-9, abs=1e-15)
    if check_fps:
        assert ours.fingerprints().tolist() == ref_f.fingerprints()


# ---------------------------------------------------------------------------


def test_constructor_properties_match(ref):
    for cap, fp in [(64, 0.1), (100, 0.01), (1000, 0.01), (5000, 0.001),
                    (1 << 16, 0.0001)]:
        ours = Filter.new(cap, fp)
        theirs = RefFilter.new(ref, cap, fp)
        assert ours.capacity() == theirs.capacity(), (cap, fp)
        assert ours.fingerprint_size() == theirs.fingerprint_size()
        assert ours.max_error_ratio() == pytest.approx(
            theirs.max_error_ratio(), rel=1e-12)
    for icap, mcap, fp in [(64, 4096, 0.01), (100, 100_000, 0.001)]:
        ours = Filter.new_resizeable(icap, mcap, fp)
        theirs = RefFilter.new_resizeable(ref, icap, mcap, fp)
        assert ours.capacity() == theirs.capacity()
        assert ours.capacity_resizeable() == theirs.capacity_resizeable()
        assert ours.max_error_ratio_resizeable() == pytest.approx(
            theirs.max_error_ratio_resizeable(), rel=1e-12)


def test_mixed_ops_differential(ref):
    """2000 random fingerprint-level ops, result-compared one by one."""
    rng = np.random.default_rng(7)
    universe = rng.integers(0, 1 << 63, size=400, dtype=np.uint64)
    ours = Filter.new(1000, 0.01)
    theirs = RefFilter.new(ref, 1000, 0.01)
    for step in range(2000):
        h = int(universe[rng.integers(0, len(universe))])
        op = rng.integers(0, 6)
        if op == 0:                               # set-semantics insert
            try:
                mine = ("ok", ours.insert_fingerprint(False, h))
            except CapacityExceeded:
                mine = ("err", "CapacityExceeded")
            assert mine == theirs.insert_fingerprint(False, h), step
        elif op == 1:                             # duplicated insert
            try:
                mine = ("ok", ours.insert_fingerprint(True, h))
            except CapacityExceeded:
                mine = ("err", "CapacityExceeded")
            assert mine == theirs.insert_fingerprint(True, h), step
        elif op == 2:                             # capped counting insert
            cap = int(rng.integers(1, 5))
            try:
                mine = ("ok", ours.insert_fingerprint_counting(cap, h))
            except CapacityExceeded:
                mine = ("err", "CapacityExceeded")
            assert mine == theirs.insert_fingerprint_counting(cap, h), step
        elif op == 3:
            assert ours.contains_fingerprint(h) == \
                theirs.contains_fingerprint(h), step
        elif op == 4:
            assert ours.count_fingerprint(h) == \
                theirs.count_fingerprint(h), step
        else:
            assert ours.remove_fingerprint(h) == \
                theirs.remove_fingerprint(h), step
        if step % 250 == 0:
            assert_same_state(ours, theirs)
    assert_same_state(ours, theirs)


def test_growth_differential(ref):
    """Resizeable filters must grow at the same insertions and stay
    state-identical through every doubling."""
    ours = Filter.new_resizeable(64, 8192, 0.01)
    theirs = RefFilter.new_resizeable(ref, 64, 8192, 0.01)
    rng = np.random.default_rng(11)
    hashes = rng.integers(0, U64, size=6000, dtype=np.uint64)
    last_cap = ours.capacity()
    growths = 0
    for i, h in enumerate(map(int, hashes)):
        mine = theirs_r = None
        try:
            mine = ("ok", ours.insert_fingerprint(True, h))
        except CapacityExceeded:
            mine = ("err", "CapacityExceeded")
        theirs_r = theirs.insert_fingerprint(True, h)
        assert mine == theirs_r, i
        if mine[0] == "err":
            break
        if ours.capacity() != last_cap:
            growths += 1
            last_cap = ours.capacity()
            assert_same_state(ours, theirs)
    assert growths >= 3              # the run really exercised doublings
    assert_same_state(ours, theirs)


@pytest.mark.parametrize("bits", [7, 16, 24, 31, 49, 64])
def test_fingerprint_size_widths(ref, bits):
    # bits=7 only fits a filter small enough to keep qbits < 7
    cap = 48 if bits == 7 else 256
    ours = Filter.with_fingerprint_size(cap, bits)
    theirs = RefFilter.with_fingerprint_size(ref, cap, bits)
    rng = np.random.default_rng(bits)
    hs = rng.integers(0, U64, size=cap - 8, dtype=np.uint64)
    for h in map(int, hs):
        try:
            mine = ("ok", ours.insert_fingerprint(True, h))
        except CapacityExceeded:
            mine = ("err", "CapacityExceeded")
        assert mine == theirs.insert_fingerprint(True, h)
    assert_same_state(ours, theirs)


def test_fingerprint_size_rejections_match(ref):
    """A width too narrow for the requested capacity must be rejected by
    BOTH implementations (qbits would consume the whole fingerprint)."""
    from qfilter_spark.errors import NotEnoughFingerprintBits

    with pytest.raises(NotEnoughFingerprintBits):
        Filter.with_fingerprint_size(256, 7)
    r = ref.cmd("with_fp_size 256 7")
    assert r == "err NotEnoughFingerprintBits"


def test_remove_and_counting_differential(ref):
    ours = Filter.new(512, 0.01)
    theirs = RefFilter.new(ref, 512, 0.01)
    rng = np.random.default_rng(23)
    vals = rng.integers(0, 1 << 62, size=64, dtype=np.uint64)
    # duplicate-heavy load through capped counting inserts
    for rep in range(5):
        for h in map(int, vals):
            mine = ("ok", ours.insert_fingerprint_counting(3, h))
            assert mine == theirs.insert_fingerprint_counting(3, h)
    for h in map(int, vals):
        assert ours.count_fingerprint(h) == theirs.count_fingerprint(h)
    # remove every copy, then one more
    for h in map(int, vals):
        for _ in range(4):
            assert ours.remove_fingerprint(h) == theirs.remove_fingerprint(h)
    assert len(ours) == len(theirs) == 0


def test_merge_differential(ref):
    rng = np.random.default_rng(31)
    a_h = [int(x) for x in rng.integers(0, U64, size=300, dtype=np.uint64)]
    b_h = [int(x) for x in rng.integers(0, U64, size=300, dtype=np.uint64)]
    for keep in (True, False):
        ours_a, ours_b = Filter.new(1000, 0.01), Filter.new(1000, 0.01)
        ref_a = RefFilter.new(ref, 1000, 0.01)
        ref_b = RefFilter.new(ref, 1000, 0.01)
        for h in a_h + a_h[:50]:          # some duplicates
            ours_a.insert_fingerprint(True, h)
            ref_a.insert_fingerprint(True, h)
        for h in b_h:
            ours_b.insert_fingerprint(True, h)
            ref_b.insert_fingerprint(True, h)
        ours_a.merge(keep, ours_b)
        assert ref_a.merge(keep, ref_b) == ("ok", None)
        assert_same_state(ours_a, ref_a)

    # merging a WIDER-fingerprint other into a narrower self truncates
    # (allowed); the reverse direction must fail identically
    rng2 = np.random.default_rng(37)
    hs = [int(x) for x in rng2.integers(0, U64, size=100, dtype=np.uint64)]
    ours_n = Filter.with_fingerprint_size(256, 16)
    ours_w = Filter.with_fingerprint_size(256, 24)
    ref_n = RefFilter.with_fingerprint_size(ref, 256, 16)
    ref_w = RefFilter.with_fingerprint_size(ref, 256, 24)
    for h in hs:
        ours_w.insert_fingerprint(True, h)
        ref_w.insert_fingerprint(True, h)
    ours_n.merge(True, ours_w)
    assert ref_n.merge(True, ref_w) == ("ok", None)
    assert_same_state(ours_n, ref_n)
    with pytest.raises(IncompatibleFingerprintSize):
        ours_w.merge(True, ours_n)
    assert ref_w.merge(True, ref_n) == ("err", "IncompatibleFingerprintSize")


def test_capacity_exceeded_parity(ref):
    """A fixed-size filter must reject at the same insertion index."""
    ours = Filter.new(64, 0.01)
    theirs = RefFilter.new(ref, 64, 0.01)
    rng = np.random.default_rng(41)
    i = 0
    while True:
        h = int(rng.integers(0, U64, dtype=np.uint64))
        try:
            mine = ("ok", ours.insert_fingerprint(True, h))
        except CapacityExceeded:
            mine = ("err", "CapacityExceeded")
        assert mine == theirs.insert_fingerprint(True, h), i
        i += 1
        if mine[0] == "err":
            break
        assert i < 10_000, "never filled"
    assert len(ours) == len(theirs) == ours.capacity()

# ---------------------------------------------------------------------------
# Bulk-kernel differentials: insert_hashes / contains_hashes / count_hashes /
# remove_hashes are the kernels every Spark partition actually runs inside the
# Arrow UDFs (dist/agg.py, dist/sharded.py, sketches/*); the tests above drive
# the scalar paths only. Here the bulk kernels are compared op-for-op against
# the reference's sequential public API on the same hash streams, including
# the >4096-probe argsorted and ascending search branches.


def _ref_insert_stream(theirs: RefFilter, hashes, max_count: int) -> int:
    """Feed the stream through the reference per-op; return #admitted."""
    admitted = 0
    for h in map(int, hashes):
        status, got = theirs.insert_fingerprint_counting(max_count, h)
        assert status == "ok"
        if got < max_count:
            admitted += 1
    return admitted


@pytest.mark.parametrize("max_count,seed", [(U64, 51), (1, 53), (3, 57)])
def test_bulk_insert_matches_reference(ref, max_count, seed):
    """One insert_hashes call == the reference's sequential insert stream:
    identical admitted count, len, and full fingerprints() multiset, for
    dup (U64), set (1), and capped-counting (3) semantics."""
    rng = np.random.default_rng(seed)
    universe = rng.integers(0, U64, size=1500, dtype=np.uint64)
    stream = universe[rng.integers(0, universe.size, size=4000)]
    ours = Filter.new(8192, 0.01)
    theirs = RefFilter.new(ref, 8192, 0.01)
    n_admit = ours.insert_hashes(stream, max_count=int(max_count))
    assert n_admit == _ref_insert_stream(theirs, stream, int(max_count))
    assert_same_state(ours, theirs)


def test_bulk_probe_matches_reference(ref):
    """contains_hashes / count_hashes on a >4096 probe batch (the argsorted
    search branch) must answer exactly like the reference's per-op
    contains/count on every element."""
    rng = np.random.default_rng(61)
    universe = rng.integers(0, U64, size=1200, dtype=np.uint64)
    stream = universe[rng.integers(0, universe.size, size=3000)]
    ours = Filter.new(8192, 0.01)
    theirs = RefFilter.new(ref, 8192, 0.01)
    ours.insert_hashes(stream)
    _ref_insert_stream(theirs, stream, U64)
    absent = rng.integers(0, U64, size=3000, dtype=np.uint64)
    probes = np.concatenate([universe, absent])[
        rng.permutation(universe.size + absent.size)]
    assert probes.size > 4096
    got_contains = ours.contains_hashes(probes)
    got_counts = ours.count_hashes(probes)
    for i, h in enumerate(map(int, probes)):
        assert bool(got_contains[i]) == theirs.contains_fingerprint(h), i
        assert int(got_counts[i]) == theirs.count_fingerprint(h), i


def test_bulk_remove_matches_reference(ref):
    """remove_hashes (the distributed retraction kernel) == a sequence of
    reference removes: same #removed (incl. over-asks) and same survivors."""
    rng = np.random.default_rng(67)
    universe = rng.integers(0, U64, size=400, dtype=np.uint64)
    stream = universe[rng.integers(0, universe.size, size=1500)]
    ours = Filter.new(4096, 0.01)
    theirs = RefFilter.new(ref, 4096, 0.01)
    ours.insert_hashes(stream)
    _ref_insert_stream(theirs, stream, U64)
    # over-ask: request more copies of some fps than exist, plus absent fps
    req = np.concatenate([
        universe[rng.integers(0, universe.size, size=900)],
        rng.integers(0, U64, size=100, dtype=np.uint64)])
    removed = ours.remove_hashes(req)
    ref_removed = sum(theirs.remove_fingerprint(int(h)) for h in req)
    assert removed == ref_removed
    assert_same_state(ours, theirs)


def test_bulk_insert_growth_matches_reference(ref):
    """A single bulk insert that forces multiple doublings must land on the
    same capacity and state the reference reaches growing per-op."""
    rng = np.random.default_rng(71)
    stream = rng.integers(0, U64, size=5000, dtype=np.uint64)
    ours = Filter.new_resizeable(64, 8192, 0.01)
    theirs = RefFilter.new_resizeable(ref, 64, 8192, 0.01)
    start_cap = ours.capacity()
    ours.insert_hashes(stream)
    _ref_insert_stream(theirs, stream, U64)
    assert ours.capacity() > start_cap          # really grew
    assert ours.capacity_resizeable() == theirs.capacity_resizeable()
    assert_same_state(ours, theirs)


def test_bulk_capacity_exceeded_parity(ref):
    """Overfilling a fixed-size filter in one bulk call: same error, and the
    longest-admissible-prefix state equals the reference's stop-at-overflow
    state (both end exactly full with the same prefix admitted)."""
    ours = Filter.new(64, 0.01)
    theirs = RefFilter.new(ref, 64, 0.01)
    rng = np.random.default_rng(73)
    stream = rng.integers(0, U64, size=ours.capacity() + 40, dtype=np.uint64)
    with pytest.raises(CapacityExceeded):
        ours.insert_hashes(stream, auto_grow=False)
    for h in map(int, stream):
        status, _ = theirs.insert_fingerprint(True, h)
        if status == "err":
            break
    assert len(ours) == len(theirs) == ours.capacity()
    assert_same_state(ours, theirs)


# ---------------------------------------------------------------------------
# Config-parametrized mixed-op fuzz. test_mixed_ops_differential drives the
# full op mix at one canonical geometry; these re-run the same differential
# loop where the layouts diverge most — narrow/wide explicit fingerprint
# widths (remainder extraction and counting-run encoding change shape) and a
# resizeable filter that keeps growing WHILE the mix includes removes and
# capped counting inserts (growth relocates runs; the reference grows per-op).
# ---------------------------------------------------------------------------

def _mixed_ops_loop(ours, theirs, seed, steps, universe_n):
    rng = np.random.default_rng(seed)
    universe = rng.integers(0, U64, size=universe_n, dtype=np.uint64)
    for step in range(steps):
        h = int(universe[rng.integers(0, len(universe))])
        op = rng.integers(0, 6)
        if op in (0, 1):
            dup = bool(op)
            try:
                mine = ("ok", ours.insert_fingerprint(dup, h))
            except CapacityExceeded:
                mine = ("err", "CapacityExceeded")
            assert mine == theirs.insert_fingerprint(dup, h), step
        elif op == 2:
            cap = int(rng.integers(1, 5))
            try:
                mine = ("ok", ours.insert_fingerprint_counting(cap, h))
            except CapacityExceeded:
                mine = ("err", "CapacityExceeded")
            assert mine == theirs.insert_fingerprint_counting(cap, h), step
        elif op == 3:
            assert ours.contains_fingerprint(h) == \
                theirs.contains_fingerprint(h), step
        elif op == 4:
            assert ours.count_fingerprint(h) == \
                theirs.count_fingerprint(h), step
        else:
            assert ours.remove_fingerprint(h) == \
                theirs.remove_fingerprint(h), step
        if step % 500 == 0:
            assert_same_state(ours, theirs)
    assert_same_state(ours, theirs)


@pytest.mark.parametrize("bits,seed", [(9, 83), (16, 89), (31, 97), (64, 101)])
def test_mixed_ops_explicit_widths(ref, bits, seed):
    cap = 200 if bits == 9 else 256   # width 9 only fits qbits <= 8
    ours = Filter.with_fingerprint_size(cap, bits)
    theirs = RefFilter.with_fingerprint_size(ref, cap, bits)
    _mixed_ops_loop(ours, theirs, seed, steps=2000, universe_n=160)


@pytest.mark.parametrize("seed", [103, 107])
def test_mixed_ops_resizeable_growth(ref, seed):
    """The full op mix over a filter that starts at 64 slots and must keep
    doubling mid-sequence (universe >> initial capacity)."""
    ours = Filter.new_resizeable(64, 4096, 0.01)
    theirs = RefFilter.new_resizeable(ref, 64, 4096, 0.01)
    start_cap = ours.capacity()
    _mixed_ops_loop(ours, theirs, seed, steps=2500, universe_n=1200)
    assert ours.capacity() >= 4 * start_cap      # really grew repeatedly
    assert ours.capacity() == theirs.capacity()


@pytest.mark.parametrize("bits,seed", [(16, 113), (31, 127), (64, 131)])
def test_bulk_kernels_match_reference_at_explicit_widths(ref, bits, seed):
    """The bulk kernels (what Spark partitions actually run) at explicit
    fingerprint widths: insert stream -> full-state compare -> bulk probe
    of present+absent -> bulk remove of a mixed over-ask, state-compared
    at every step. The earlier bulk differentials all ran the default
    new(cap, fp_rate) geometry."""
    rng = np.random.default_rng(seed)
    cap = 2048
    universe = rng.integers(0, U64, size=500, dtype=np.uint64)
    stream = universe[rng.integers(0, universe.size, size=1500)]
    ours = Filter.with_fingerprint_size(cap, bits)
    theirs = RefFilter.with_fingerprint_size(ref, cap, bits)
    n_admit = ours.insert_hashes(stream, max_count=3)
    assert n_admit == _ref_insert_stream(theirs, stream, 3)
    assert_same_state(ours, theirs)

    absent = rng.integers(0, U64, size=5000, dtype=np.uint64)
    probes = np.concatenate([universe, absent])
    got_contains = ours.contains_hashes(probes)
    got_counts = ours.count_hashes(probes)
    for i, h in enumerate(map(int, probes)):
        assert bool(got_contains[i]) == theirs.contains_fingerprint(h), i
        assert int(got_counts[i]) == theirs.count_fingerprint(h), i

    req = np.concatenate([universe[rng.integers(0, universe.size, size=700)],
                          rng.integers(0, U64, size=100, dtype=np.uint64)])
    removed = ours.remove_hashes(req)
    assert removed == sum(theirs.remove_fingerprint(int(h)) for h in req)
    assert_same_state(ours, theirs)


def _ref_shrink(theirs: RefFilter) -> None:
    theirs.s.ok(f"shrink {theirs.id}")


def test_shrink_loop_differential(ref):
    """shrink_to_fit sequences (reference src/lib.rs:1311-1328): build at
    big headroom, remove most items, then shrink REPEATEDLY on both sides,
    comparing capacity/fingerprint-size/full multiset after every step —
    the remaining reference behavior the r5 harness left uncovered
    (VERDICT r5 item 6). Also pins the round-6 blocks re-encode on the
    exact path shrink_sharded drives (repeated one-step shrinks)."""
    rng = np.random.default_rng(211)
    ours = Filter.new(8192, 0.01)
    theirs = RefFilter.new(ref, 8192, 0.01)
    keys = rng.integers(0, U64, size=6000, dtype=np.uint64)
    ours.insert_hashes(keys, max_count=1)
    for h in map(int, keys):
        theirs.insert_fingerprint(False, h)
    assert_same_state(ours, theirs)
    # retract down to a sliver so several shrink steps are possible
    for h in map(int, keys[:5800]):
        assert ours.remove_fingerprint(h) == theirs.remove_fingerprint(h)
    assert_same_state(ours, theirs)
    for step in range(8):
        ours.shrink_to_fit()
        _ref_shrink(theirs)
        assert_same_state(ours, theirs)
    # shrink must have actually fired at least once and both sides agree
    assert ours.capacity() < 8192
    # survivors still answer identically through the shrunken geometry
    for h in map(int, keys[5800:5900]):
        assert ours.contains_fingerprint(h) == theirs.contains_fingerprint(h)


def test_remove_collision_false_negative_parity(ref):
    """The documented remove edge (reference src/lib.rs:1056-1061):
    removing a never-inserted item whose TRUNCATED fingerprint collides
    with a stored one deletes the colliding fingerprint on BOTH sides —
    creating the same false negative, not a divergent state."""
    ours = Filter.new(1000, 0.01)
    theirs = RefFilter.new(ref, 1000, 0.01)
    fs = ours.fingerprint_size()
    assert fs < 63
    h = 0x1234_5678_9ABC
    ours.insert_fingerprint(False, h)
    theirs.insert_fingerprint(False, h)
    ghost = h + (1 << fs)  # same fingerprint, different 64-bit hash
    assert ours.remove_fingerprint(ghost) is True
    assert theirs.remove_fingerprint(ghost) is True
    # the collision consumed the stored copy: both sides now report the
    # ORIGINAL item absent (the documented false negative), identically
    assert ours.contains_fingerprint(h) is False
    assert theirs.contains_fingerprint(h) is False
    assert_same_state(ours, theirs)
