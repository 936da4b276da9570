"""Sketch-core property tests: no false negatives, FPR ≤ bound, merge
associativity/commutativity, serialization round-trips, estimates
within published error bounds (SURVEY.md §5 test plan)."""

import math

import numpy as np
import pytest

from facs_spark.sketch import (AmsF2, BloomFilter, CountingBloom,
                               CountMinSketch, CountSketch, CuckooFilter,
                               HyperLogLog, KLL, TDigest, facs_sizing,
                               find_close_prime, is_prime, sketch_from_bytes,
                               standard_sizing)
from facs_spark.sketch.bloom import _tags
from facs_spark.sketch.hashing import FACS_SEEDS, pack_lanes, splitmix64
from test_hashing import hash3_scalar

rng = np.random.default_rng(7)


def _keys(n, length=15, seed=0):
    r = np.random.default_rng(seed)
    return r.integers(97, 123, size=(n, length), dtype=np.uint8)  # a-z


# ---------------------------------------------------------------- sizing
def test_sizing_prime_and_formulas():
    st = facs_sizing(10000, 0.0005)
    assert is_prime(st.elements)
    assert st.ideal_hashes >= 1
    # 13/9 ≈ 1/ln2: m within a few % of n*k/ln2
    approx = 13 * 10000 * int(-math.log2(0.0005)) // 9
    assert st.elements >= approx
    std = standard_sizing(10000, 0.0005)
    ideal = -10000 * math.log(0.0005) / math.log(2) ** 2
    assert abs(std.elements - ideal) < ideal * 0.01 + 100


def test_find_close_prime():
    assert find_close_prime(90) == 97
    assert find_close_prime(97) == 97
    assert find_close_prime(100) == 101


# ---------------------------------------------------------------- bloom
def test_bloom_no_false_negatives_and_fpr():
    keys = np.unique(_keys(5000, seed=1), axis=0)
    probe = np.unique(_keys(20000, seed=2), axis=0)
    member = set(map(bytes, keys))
    mask = np.array([bytes(r) not in member for r in probe])
    # facs sizing reproduces the reference's truncation quirk
    # (facs/suggestions.c:112): at e=0.001 it seeds k=8 so the real
    # FPR is ≈0.5^8 ≈ 4e-3 — above the nominal e.  The honest gate is
    # the analytic bound for the ACTUAL geometry, (1-e^{-kn/m})^k.
    bf = BloomFilter.create(capacity=keys.shape[0], error_rate=0.001, k_mer=15)
    bf.add_batch(keys)
    assert bf.contains_batch(keys).all(), "Bloom must never false-negative"
    fp = bf.contains_batch(probe[mask]).mean()
    assert fp <= 3 * bf.expected_fpr + 1e-9, \
        f"observed FPR {fp} above geometry bound {bf.expected_fpr}"
    # the standard -n·ln p/(ln2)² sizing must meet the nominal e
    bs = BloomFilter.create(capacity=keys.shape[0], error_rate=0.001,
                            k_mer=15, sizing="standard")
    bs.add_batch(keys)
    assert bs.contains_batch(keys).all()
    fps = bs.contains_batch(probe[mask]).mean()
    assert fps <= 3 * 0.001 + 1e-9, f"standard-sizing FPR {fps} above bound"


def test_bloom_inserts_counts_novel_only():
    keys = np.unique(_keys(100, seed=3), axis=0)
    bf = BloomFilter.create(capacity=1000, error_rate=0.001, k_mer=15)
    bf.add_batch(keys)
    first = bf.inserts
    assert first > 0
    bf.add_batch(keys)  # re-adding: nothing novel
    assert bf.inserts == first


class _NaiveBloom:
    """One key at a time, as facs does: bit i of a key is
    ``hash5(key, seed_i) % m`` (the full 64-bit hash3 above 2^36 bits);
    a key is novel iff one of its bits was unset before the batch."""

    def __init__(self, bf: BloomFilter):
        self.stat = bf.stat
        self.bits = bytearray(bf.vector.nbytes)
        self.inserts = 0

    def positions(self, key: bytes) -> list[int]:
        mask = (1 << 36) - 1 if self.stat.elements <= 1 << 36 else (1 << 64) - 1
        return [(hash3_scalar(key, FACS_SEEDS[i]) & mask) % self.stat.elements
                for i in range(self.stat.ideal_hashes)]

    def test(self, bits, key: bytes) -> bool:
        return all(bits[p >> 3] >> (p & 7) & 1 for p in self.positions(key))

    def add_batch(self, keys: list[bytes]) -> None:
        before = bytes(self.bits)
        self.inserts += sum(not self.test(before, k) for k in set(keys))
        for key in keys:
            for p in self.positions(key):
                self.bits[p >> 3] |= 1 << (p & 7)


def _exact_matrix(rows: list[bytes], width: int) -> np.ndarray:
    """An (n, width) key matrix over a buffer that ends at its last key."""
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(-1, width)


@pytest.mark.parametrize("width", [1, 7, 8, 9, 15, 16, 17, 23, 24, 31])
def test_bloom_add_and_contains_match_naive_per_key(width):
    r = np.random.default_rng(width)
    # a 3-letter alphabet at small widths and repeated rows at every
    # width, so batches hold duplicates, as k-gram windows do
    pool = [bytes(k) for k in r.integers(97, 100 if width < 9 else 123,
                                         size=(150, width), dtype=np.uint8)]
    batch_a = [pool[i] for i in r.integers(0, 100, 160)]
    batch_b = [pool[i] for i in r.integers(50, 150, 160)]
    probes = pool + [bytes(k) for k in r.integers(97, 123, size=(150, width),
                                                  dtype=np.uint8)]
    bf = BloomFilter.create(capacity=120, error_rate=0.05, k_mer=width)
    naive = _NaiveBloom(bf)
    for batch in (batch_a, batch_b, batch_a):
        novel = bf.add_batch(_exact_matrix(batch, width))
        before = naive.inserts
        naive.add_batch(batch)
        assert novel == naive.inserts - before
        assert bf.inserts == naive.inserts
        assert bf.vector.tobytes() == bytes(naive.bits)
    got = bf.contains_batch(_exact_matrix(probes, width))
    assert got.tolist() == [naive.test(naive.bits, k) for k in probes]
    members = set(batch_a) | set(batch_b)
    assert all(g for g, k in zip(got, probes) if k in members)
    assert not got.all()


_ASCII_LOWER = bytes(c + 32 if 65 <= c <= 90 else c for c in range(256))


def _raw_key(v) -> bytes:
    """Naive raw-value key: an int's 8-byte little-endian form, any
    other value the ASCII-lowercased UTF-8 of its str (None → "")."""
    if isinstance(v, (int, np.integer)):
        return int(v).to_bytes(8, "little", signed=True)
    return ("" if v is None else str(v)).encode("utf-8").translate(
        _ASCII_LOWER)


def _one_key(key: bytes) -> np.ndarray:
    return np.frombuffer(key, dtype=np.uint8).reshape(1, len(key))


@pytest.mark.parametrize("case", ["int64", "int32", "float_nan", "strings",
                                  "tokens"])
def test_bloom_values_match_naive_per_value_keys(case):
    """``update_batch`` (through ``SketchSpec.update``, the build) and
    ``contains_values`` (the probe) equal a filter fed one naive key
    per value through ``add_batch``."""
    import pandas as pd

    from facs_spark.ops.sketch_agg import SketchSpec
    r = np.random.default_rng(3)
    prep = "raw"
    if case == "int64":
        series = pd.Series(r.integers(-2**62, 2**62, 400))
        members = series.tolist()
    elif case == "int32":
        series = pd.Series(r.integers(-2**31, 2**31 - 1, 400, dtype=np.int32))
        members = series.tolist()
    elif case == "float_nan":
        series = pd.Series([1.0, np.nan, -7.0, 3e9, np.nan])
        members = [1, -7, 3_000_000_000]
    elif case == "strings":
        series = pd.Series(["Alpha", None, "ALPHA", "", "Ünïcode É",
                            "ab\x00", "mixed Case 42"]
                           + [f"Key-{i}" for i in range(200)])
        members = series.tolist()
    else:
        prep = "tokens"
        series = pd.Series(["The quick  Brown", None, "", "fox THE fox",
                            "naïve Ünicode token\x00"])
        members = [t for s in series if s for t in s.split(" ") if t]
    spec = SketchSpec.make("bloom", "c", prep=prep, capacity=500,
                           error_rate=0.01)
    bf = spec.new_sketch()
    spec.update(bf, series)
    ref = spec.new_sketch()
    for v in members:
        ref.add_batch(_one_key(_raw_key(v)))
    assert bf.vector.tobytes() == ref.vector.tobytes()
    assert bf.contains_values(members).all()
    extra = ([7, -8, 2**40] if isinstance(members[0], int)
             else ["zz-not-a-key", "KEY-1", "key-999"])
    probes = pd.Series(members + extra)
    assert bf.contains_values(probes).tolist() == [
        bool(ref.contains_batch(_one_key(_raw_key(v)))[0]) for v in probes]
    if case == "float_nan":  # a NaN gets no key: never a member
        assert bf.contains_values(series).tolist() == [True, False, True,
                                                       True, False]


def test_bloom_timestamp_keys_read_the_same_in_any_batch():
    """A datetime column encodes one value at a time: pandas formats a
    whole datetime column by what its batch holds (an all-midnight
    batch drops the time, a fractional second pads every value), so a
    timestamp built in one batch must still be found from another, and
    from the numpy slice the SQL readers pass."""
    import pandas as pd

    from facs_spark.ops.sketch_agg import SketchSpec
    midnight = pd.Series(pd.to_datetime(
        ["2020-01-01", "2020-01-02", "2020-01-03"]))
    mixed = pd.Series(pd.to_datetime(
        ["2020-02-01 00:00:01.5", "2020-02-01 00:00:01", "2020-02-02"],
        format="ISO8601"))
    spec = SketchSpec.make("bloom", "ts", capacity=100, error_rate=1e-6)
    bf = spec.new_sketch()
    spec.update(bf, midnight)
    spec.update(bf, mixed)
    ref = spec.new_sketch()
    for v in [*midnight, *mixed]:
        ref.add_batch(_one_key(_raw_key(v)))
    assert bf.vector.tobytes() == ref.vector.tobytes()
    probe = pd.concat([mixed, midnight, pd.Series([pd.NaT])],
                      ignore_index=True)
    want = [True] * 6 + [False]
    assert bf.contains_values(probe).tolist() == want
    assert bf.contains_values(probe.to_numpy()).tolist() == want
    assert not bf.contains_values(pd.Series(pd.to_datetime(
        ["2020-01-01 00:00:00.5", "2021-01-01"], format="ISO8601"))).any()


# kind -> the per-key probe a SQL reader calls (no entry: no point probe)
_KEY_PROBES = {"cms": "query_batch", "cs": "estimate_batch",
               "cbf": "contains_batch", "cuckoo": "contains_batch",
               "mg": "query_batch", "bloom": "contains_values"}


@pytest.mark.parametrize("column", ["int64", "string", "timestamp"])
@pytest.mark.parametrize("kind", ["hll", "theta", "cms", "cs", "ams", "cbf",
                                  "cuckoo", "mg", "bloom"])
def test_keyed_sketches_read_a_key_the_same_beside_a_null(kind, column):
    """Every keyed sketch reads a key the same on its build side and
    its probe side, whatever the column's dtype on either side.  The
    build is ``SketchSpec.update`` over a clean column; the probe gets
    the same values beside a NULL, as pandas hands them to a UDF: an
    int column becomes float64 with NaN, strings stay object with
    None, timestamps stay datetime64 with NaT.  Members answer as in
    the clean probe; a numeric NULL has no key (absent), and a string
    or timestamp NULL is the key "" (a member of the string build).
    Sketches with no point probe
    (HLL, theta, AMS) fed the NULL-holding column directly equal the
    spec build."""
    import pandas as pd

    from facs_spark.ops.sketch_agg import SketchSpec
    clean = {"int64": pd.Series(np.arange(100, dtype=np.int64)),
             "string": pd.Series([f"Key-{i}" for i in range(99)] + [""]),
             "timestamp": pd.Series(pd.date_range("2020-01-01", periods=100,
                                                  freq="37min"))}[column]
    beside = pd.Series([*clean, None])
    assert beside.dtype == {"int64": np.float64, "string": object,
                            "timestamp": "datetime64[ns]"}[column]
    params = {"cbf": {"capacity": 1000}, "cuckoo": {"capacity": 1000},
              "bloom": {"capacity": 1000, "error_rate": 1e-6},
              "mg": {"k": 256}}.get(kind, {})
    spec = SketchSpec.make(kind, "c", **params)
    sk = spec.new_sketch()
    spec.update(sk, clean)
    null_key = [] if column == "int64" else [""]
    if kind not in _KEY_PROBES:
        fed = spec.new_sketch()
        fed.update_batch(beside)
        ref = spec.new_sketch()
        spec.update(ref, clean)
        spec.update(ref, pd.Series(null_key, dtype=object))
        assert fed.to_bytes() == ref.to_bytes()
        return
    probe = getattr(sk, _KEY_PROBES[kind])
    want = probe(clean)
    assert (want > 0).all()
    null_reads = probe(pd.Series(null_key, dtype=object))[0] if null_key else 0
    for got in (probe(beside), probe(beside.to_numpy())):
        assert got[:100].tolist() == want.tolist()
        assert got[100] == null_reads


def test_bloom_contains_values_memory_stays_bounded_for_wide_keys():
    """``contains_values`` probes raw keys without the member memo,
    whose 64K-slot table per key width reserves (ceil(L/8) + 1) x 512 KiB
    for every width L: here ~80 widths and one 20,000-byte key."""
    import tracemalloc

    import pandas  # noqa: F401 -- its first import is not what is measured

    vals = [f"{i}-" + "x" * (i % 80) for i in range(500)] + ["y" * 20_000]
    bf = BloomFilter.create(1000, error_rate=0.01)
    bf.update_batch(vals)
    tracemalloc.start()
    try:
        found = bf.contains_values(vals)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert found.all()
    assert peak < 32 << 20, peak


def test_string_key_lists_make_no_fixed_width_copy():
    """A list of strings is read as an object array: a fixed-width
    numpy copy takes n x maxlen x 4 bytes, so one long value widens
    every slot (here 500 x 20,000 x 4 = 40 MB)."""
    import tracemalloc

    import pandas  # noqa: F401 -- its first import is not what is measured

    vals = [f"k{i}" for i in range(499)] + ["x" * 20_000]
    bf = BloomFilter.create(1000, error_rate=0.01)
    hll, cms = HyperLogLog(p=10), CountMinSketch()
    tracemalloc.start()
    try:
        bf.update_batch(vals)
        hll.update_batch(vals)
        cms.update_batch(vals)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4_000_000, peak
    assert bf.contains_values(vals).all()


def _unsplitmix(z: int) -> int:
    """Inverse of ``splitmix64`` (each step is a bijection on u64)."""
    M = (1 << 64) - 1

    def unxorshift(y, s):
        x = y
        for _ in range(64 // s):
            x = y ^ (x >> s)
        return x

    z = unxorshift(z, 31)
    z = z * pow(0x94D049BB133111EB, -1, 1 << 64) & M
    z = unxorshift(z, 27)
    z = z * pow(0xBF58476D1CE4E5B9, -1, 1 << 64) & M
    z = unxorshift(z, 30)
    return (z - 0x9E3779B97F4A7C15) & M


def test_bloom_dedup_regroups_keys_sharing_sort_bits():
    """Two distinct 8-byte keys whose mixed sort keys differ only in
    the lowest bit share every bit the dedup's value sort keeps, so
    they interleave by position; the batch must still count 2 novel
    keys and set the bits a per-key build sets."""
    z = 0x0123456789ABCDE0
    x, y = _unsplitmix(z), _unsplitmix(z | 1)
    assert int(splitmix64(np.array([x], dtype=np.uint64))[0]) == z
    kx, ky = x.to_bytes(8, "little"), y.to_bytes(8, "little")
    keys = [kx, ky, kx, ky, kx]
    bf = BloomFilter.create(capacity=100, error_rate=0.01, k_mer=8)
    naive = _NaiveBloom(bf)
    assert bf.add_batch(_exact_matrix(keys, 8)) == 2
    naive.add_batch(keys)
    assert bf.vector.tobytes() == bytes(naive.bits)
    assert bf.contains_batch(_exact_matrix(keys, 8)).all()


def test_bloom_contains_cache_matches_uncached():
    """The cross-batch memo keys on width too: b"abcdefghi" and
    b"abcdefghi\x00" pack to the same lanes but are different keys."""
    bf = BloomFilter.create(capacity=200, error_rate=0.05)
    a, b = _keys(300, 9, seed=11), _keys(300, 10, seed=12)
    bf.add_batch(a[:100])
    bf.add_batch(b[:100])
    bf.add_batch(_exact_matrix([b"abcdefghi"], 9))
    cache = {}
    for keys in (a, b, a, _exact_matrix([b"abcdefghi"], 9),
                 _exact_matrix([b"abcdefghi\x00"], 10), b):
        assert (bf.contains_batch(keys, cache=cache)
                == bf.contains_batch(keys)).all()
    assert not bf.contains_batch(_exact_matrix([b"abcdefghi\x00"], 10))[0]


def _memo_free(bf, keys):
    """Per-key answers of ``_probe`` alone: no dedup, no member memo."""
    return BloomFilter._probe(bf, pack_lanes(keys), keys.shape[1])


def _probed_keys(bf):
    """Wrap ``bf._probe`` to record how many keys reach it per call."""
    sent, inner = [], bf._probe
    bf._probe = lambda lanes, width: (sent.append(lanes.shape[1]),
                                      inner(lanes, width))[1]
    return sent


def test_bloom_member_memo_answers_exactly():
    """Members repeated across calls come from the memo; non-members,
    keys under 8 bytes, widths 8 and 15 on one filter and single-key
    calls all equal a memo-free probe, before and after more adds."""
    bf = BloomFilter.create(capacity=2_000, error_rate=0.01, k_mer=15)
    k15, k8 = _keys(3_000, 15, seed=21), _keys(600, 8, seed=22)
    k3 = _keys(40, 3, seed=23)
    for keys in (k15[:1_000], k8[:200], k3[:10]):
        bf.add_batch(keys)
    sent = _probed_keys(bf)
    for keys in (k15[:1_000], k8, k3, k15[500:2_500], k8[::-1], k3):
        assert (bf.contains_batch(keys) == _memo_free(bf, keys)).all()
    # second sight of members 500..999: bar the few that lost a slot to
    # a later member, only the 1,500 new keys reach the probe
    assert sent[0] == 1_000
    assert 1_500 <= sent[3] <= 1_520
    assert set(bf._memo) == {15, 8, 3}
    for row in np.concatenate([k15[995:1_005], k15[2_990:]]):
        one = row[None, :]
        assert bf.contains_batch(one)[0] == _memo_free(bf, one)[0]
    bf.add_batch(k15[1_000:1_500])  # bits only ever get set
    for keys in (k15, k8, k3):
        got = bf.contains_batch(keys)
        assert (got == _memo_free(bf, keys)).all()
        assert got[:10].all()  # every key set holds 10+ members first


def test_bloom_member_memo_needs_every_lane():
    """A key with a member's exact splitmix tag (so the member's slot
    and tag) but other lanes is not answered from the memo."""
    bf = BloomFilter.create(capacity=100, error_rate=0.01, k_mer=15)
    x = _keys(1, 15, seed=31)
    lane0, lane1 = (int(v) for v in pack_lanes(x)[:, 0])
    mul, top = 0xC2B2AE3D27D4EB4F, (1 << 64) - 1
    lane1_y = lane1 ^ 1
    lane0_y = lane0 ^ (lane1 * mul & top) ^ (lane1_y * mul & top)
    y = np.frombuffer(lane0_y.to_bytes(8, "little")
                      + lane1_y.to_bytes(8, "little")[:7],
                      dtype=np.uint8)[None, :]
    assert _tags(pack_lanes(x))[0] == _tags(pack_lanes(y))[0]
    assert not (x == y).all()
    bf.add_batch(x)
    assert bf.contains_batch(x)[0]
    assert bf.contains_batch(y)[0] == _memo_free(bf, y)[0]
    assert not bf.contains_batch(y)[0]


def test_bloom_member_memo_is_fixed_size():
    """500k distinct members later, the memo is the same table of the
    same bytes, and colliding slots still answer exactly."""
    keys = np.unique(_keys(520_000, 15, seed=41), axis=0)[:500_000]
    bf = BloomFilter.create(capacity=500_000, error_rate=0.01, k_mer=15)
    bf.add_batch(keys)
    bf.contains_batch(keys[:10])
    table = bf._memo[15]
    nbytes = table.nbytes
    for lo in range(0, keys.shape[0], 100_000):
        assert bf.contains_batch(keys[lo:lo + 100_000]).all()
    assert bf._memo[15] is table and table.nbytes == nbytes == 3 * 8 << 16
    probe = np.concatenate([keys[::997], _keys(5_000, 15, seed=42)])
    assert (bf.contains_batch(probe) == _memo_free(bf, probe)).all()


def test_bloom_merge_equals_single_build():
    keys = np.unique(_keys(4000, seed=4), axis=0)
    whole = BloomFilter.create(capacity=5000, error_rate=0.001, k_mer=15)
    whole.add_batch(keys)
    parts = []
    for chunk in np.array_split(keys, 7):
        p = BloomFilter.create(capacity=5000, error_rate=0.001, k_mer=15)
        p.add_batch(chunk)
        parts.append(p)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert (merged.vector == whole.vector).all(), "merge must equal one-pass build"
    # associativity: ((a|b)|c) == (a|(b|c))
    left = parts[0].merge(parts[1]).merge(parts[2])
    right = parts[0].merge(parts[1].merge(parts[2]))
    assert (left.vector == right.vector).all()


def test_bloom_cardinality_estimate_within_sd_band():
    """Swamidass-Baldi fill-ratio estimate lands within 5 delta-method
    SDs of the true distinct count across fill levels, and the SD is
    itself small (sub-percent at half fill)."""
    for n, cap, seed in ((2000, 10000, 1), (30000, 40000, 2),
                         (50000, 50000, 3)):
        keys = np.unique(_keys(n + 500, seed=seed), axis=0)[:n]
        bf = BloomFilter.create(capacity=cap, error_rate=0.001, k_mer=15)
        bf.add_batch(keys)
        est, sd = bf.estimate_cardinality(), bf.cardinality_sd()
        assert abs(est - n) <= 5 * sd + 2, (n, est, sd)
        assert sd <= 0.01 * n + 30, (n, sd)


def test_bloom_cardinality_corrects_merged_inserts_overcount():
    """After an OR-merge of overlapping partials, `inserts` is a
    documented upper bound; the fill-ratio estimate recovers the TRUE
    distinct union (within the SD band) from the merged bits alone —
    and is bit-identical to the single-pass build's estimate."""
    keys = np.unique(_keys(30000, seed=6), axis=0)
    a, b = keys[:20000], keys[8000:]          # 12k-key overlap
    fa = BloomFilter.create(capacity=40000, error_rate=0.001, k_mer=15)
    fb = BloomFilter.create(capacity=40000, error_rate=0.001, k_mer=15)
    fa.add_batch(a), fb.add_batch(b)
    merged = fa.merge(fb)
    true_union = len(keys)
    assert merged.inserts == len(a) + len(b) > true_union
    est, sd = merged.estimate_cardinality(), merged.cardinality_sd()
    assert abs(est - true_union) <= 5 * sd + 2
    whole = BloomFilter.create(capacity=40000, error_rate=0.001, k_mer=15)
    whole.add_batch(keys)
    assert est == whole.estimate_cardinality()


def test_bloom_cardinality_saturation_and_empty():
    bf = BloomFilter.create(capacity=100, error_rate=0.5, k_mer=15)
    assert bf.bits_set == 0 and bf.estimate_cardinality() == 0.0
    bf.vector[:] = 0xFF                      # saturate every byte
    assert math.isinf(bf.estimate_cardinality())
    assert math.isinf(bf.cardinality_sd())


def test_bloom_serialization_roundtrip():
    keys = _keys(500, seed=5)
    bf = BloomFilter.create(capacity=1000, error_rate=0.01, k_mer=15)
    bf.add_batch(keys)
    bf2 = sketch_from_bytes(bf.to_bytes())
    assert (bf2.vector == bf.vector).all()
    assert bf2.stat == bf.stat and bf2.inserts == bf.inserts
    assert bf2.contains_batch(keys).all()


def test_facs_bloom_binary_interop(tmp_path):
    """The reference's raw C-struct .bloom layout loads and answers
    identically; export reproduces the reference's file size
    (header 72 B + m/8+1 vector + ftruncate tail, facs/bloom.c:217-337)."""
    import struct

    keys = _keys(500, seed=6)
    bf = BloomFilter.create(capacity=1000, error_rate=0.01, k_mer=15)
    bf.add_batch(keys)
    blob = bf.to_facs_bytes()
    expect = (72 + (bf.stat.elements >> 3) + 1
              + 4 * (bf.stat.ideal_hashes + 1))
    assert len(blob) == expect
    back = BloomFilter.from_facs_bytes(blob)
    assert (back.vector == bf.vector).all()
    assert back.stat == bf.stat and back.inserts == bf.inserts
    assert back.k_mer == bf.k_mer
    assert (back.contains_batch(keys) == bf.contains_batch(keys)).all()

    # synthesize a file exactly as the reference's save_bloom lays it
    # out (garbage pointers up front) and load it via the api path
    raw = (struct.pack("<QQ", 0xDEADBEEF, 0xCAFEBABE)  # pointer garbage
           + struct.pack("<QQi4xQdiif4x", bf.inserts, bf.stat.elements,
                         bf.stat.ideal_hashes, bf.stat.capacity,
                         bf.stat.e, bf.k_mer, bf.k_mer ** 2, 0.4)
           + bf.vector.tobytes())
    p = tmp_path / "ref_style.bloom"
    p.write_bytes(raw)
    import facs_spark.api as facs
    loaded = facs._load_bloom(str(p))
    assert (loaded.vector == bf.vector).all()
    assert loaded.contains_batch(keys).all()
    # framed files still auto-detect through the same loader
    p2 = tmp_path / "framed.bloom"
    p2.write_bytes(bf.to_bytes())
    assert (facs._load_bloom(str(p2)).vector == bf.vector).all()

    # a reference file with k>20 (its get_rec has no clamp; bloom_hash
    # reads past seed[20] — undefined behavior) must fail LOUDLY at
    # load, not IndexError inside an executor task later
    bad = (struct.pack("<QQ", 0, 0)
           + struct.pack("<QQi4xQdiif4x", 10, bf.stat.elements, 23,
                         1000, 1e-7, 15, 225, 0.4)
           + bf.vector.tobytes())
    with pytest.raises(ValueError, match="salt seeds"):
        BloomFilter.from_facs_bytes(bad)


# ---------------------------------------------------------------- HLL
def test_hll_within_published_bound():
    for true_n in (100, 5000, 200_000):
        h = HyperLogLog(p=14)
        h.update_batch(np.arange(true_n, dtype=np.int64))
        est = h.estimate()
        rel = abs(est - true_n) / true_n
        assert rel <= 4 * h.relative_error, f"n={true_n}: rel err {rel}"


def test_hll_merge_equals_single_and_associative():
    vals = np.arange(50_000, dtype=np.int64)
    whole = HyperLogLog(p=12)
    whole.update_batch(vals)
    parts = []
    for chunk in np.array_split(vals, 5):
        p = HyperLogLog(p=12)
        p.update_batch(chunk)
        parts.append(p)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert (merged.registers == whole.registers).all()
    l = parts[0].merge(parts[1]).merge(parts[2])
    r = parts[0].merge(parts[1].merge(parts[2]))
    assert (l.registers == r.registers).all()


def test_hll_strings_and_roundtrip():
    h = HyperLogLog(p=12)
    h.update_batch([f"https://host{i}.example/{i}" for i in range(3000)])
    h2 = sketch_from_bytes(h.to_bytes())
    assert h2.estimate() == h.estimate()
    assert abs(h.estimate() - 3000) / 3000 < 4 * h.relative_error


# ---------------------------------------------------------------- CMS
def test_cms_overcount_only_and_bound():
    r = np.random.default_rng(11)
    keys = r.zipf(1.5, size=50_000).astype(np.int64)
    cms = CountMinSketch(epsilon=0.001, delta=0.01)
    cms.update_batch(keys)
    uniq, exact = np.unique(keys, return_counts=True)
    est = cms.query_batch(uniq)
    assert (est >= exact).all(), "CMS must never undercount"
    within = (est - exact <= cms.error_bound)
    assert within.mean() >= 0.99, "CMS additive error bound violated"


def test_cms_merge_equals_single():
    keys = np.arange(10_000, dtype=np.int64) % 97
    whole = CountMinSketch(epsilon=0.01, delta=0.05)
    whole.update_batch(keys)
    a = CountMinSketch(epsilon=0.01, delta=0.05)
    b = CountMinSketch(epsilon=0.01, delta=0.05)
    a.update_batch(keys[:4000])
    b.update_batch(keys[4000:])
    merged = a.merge(b)
    assert (merged.table == whole.table).all()
    assert merged.total == whole.total
    m2 = sketch_from_bytes(merged.to_bytes())
    assert (m2.table == merged.table).all()


# ---------------------------------------------------------------- t-digest
def test_tdigest_quantiles_within_bound():
    r = np.random.default_rng(13)
    vals = r.lognormal(3.0, 1.0, size=100_000)
    td = TDigest(delta=200)
    for chunk in np.array_split(vals, 10):
        td.update_batch(chunk)
    svals = np.sort(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= 0.01, f"q={q}: rank err {abs(true_rank-q)}"


def test_tdigest_merge_bounded_drift():
    r = np.random.default_rng(17)
    vals = r.normal(0, 1, size=60_000)
    parts = []
    for chunk in np.array_split(vals, 8):
        t = TDigest(delta=200)
        t.update_batch(chunk)
        parts.append(t)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    svals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= 0.015
    m2 = sketch_from_bytes(merged.to_bytes())
    assert m2.quantile(0.5) == merged.quantile(0.5)


# ---------------------------------------------------------------- KLL
def test_kll_rank_error_within_bound():
    r = np.random.default_rng(19)
    vals = r.exponential(5.0, size=80_000)
    kll = KLL(k=200)
    for chunk in np.array_split(vals, 6):
        kll.update_batch(chunk)
    assert kll.n == vals.size
    svals = np.sort(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = kll.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= kll.rank_error, f"q={q}"


def test_kll_merge_and_roundtrip():
    r = np.random.default_rng(23)
    vals = r.uniform(0, 100, size=40_000)
    parts = []
    for chunk in np.array_split(vals, 4):
        s = KLL(k=200)
        s.update_batch(chunk)
        parts.append(s)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.n == vals.size
    svals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) <= merged.rank_error
    m2 = sketch_from_bytes(merged.to_bytes())
    assert m2.quantile(0.5) == merged.quantile(0.5)
    assert m2.n == merged.n


def test_merge_repartition_invariance_property():
    """Sketch(A∪B) bounds hold for ANY random partitioning (north rule)."""
    r = np.random.default_rng(29)
    vals = r.normal(50, 10, size=30_000)
    svals = np.sort(vals)
    for trial in range(3):
        perm = np.random.default_rng(100 + trial).permutation(vals.size)
        shuffled = vals[perm]
        n_parts = [2, 5, 9][trial]
        kll = None
        td = None
        for chunk in np.array_split(shuffled, n_parts):
            s = KLL(k=200)
            s.update_batch(chunk)
            kll = s if kll is None else kll.merge(s)
            t = TDigest(delta=200)
            t.update_batch(chunk)
            td = t if td is None else td.merge(t)
        for q in (0.25, 0.5, 0.75):
            for est in (kll.quantile(q), td.quantile(q)):
                true_rank = np.searchsorted(svals, est) / svals.size
                assert abs(true_rank - q) <= 0.02


# kind -> (new sketch, low-density keys, high-density keys, counter attr)
_COUNTER_SKETCHES = {
    "hll": (lambda: HyperLogLog(p=14), np.arange(50),
            np.arange(100_000), "registers"),
    "cms": (CountMinSketch, [f"tok{i}" for i in range(200)],
            [f"t{i % 60000}" for i in range(120_000)], "table"),
    "cbf": (lambda: CountingBloom.create(20_000, 1e-3), np.arange(167),
            np.arange(10_000, 30_000), "counters"),
    "cuckoo": (lambda: CuckooFilter.create(4096), np.arange(167),
               np.arange(10_000, 12_000), "table"),
    "cs": (CountSketch, np.arange(50), np.arange(20_000), "z"),
    # every key moves every AMS counter: only an empty partial is sparse
    "ams": (AmsF2, np.arange(0), np.arange(1_000), "z"),
}


@pytest.mark.parametrize("kind", sorted(_COUNTER_SKETCHES))
def test_counter_sketch_wire_format(kind):
    """One wire codec for every counter-array sketch: low-density
    blobs ship sparse (< 1/4 of the dense array), round-trip
    bit-identically, high-density blobs stay dense, merge across the
    two formats equals a direct merge, and an unknown frame version
    raises instead of being parsed as dense counters."""
    import struct

    new, low_keys, high_keys, attr = _COUNTER_SKETCHES[kind]
    low, high = new(), new()
    low.update_batch(low_keys)
    high.update_batch(high_keys)
    cls = type(low)

    arr = getattr(low, attr)
    dense_blob = high.to_bytes()
    assert struct.unpack_from("<H", dense_blob, 4)[0] == 1
    header = len(dense_blob) - arr.nbytes
    assert cls.from_bytes(dense_blob).to_bytes() == dense_blob

    blob = low.to_bytes()
    assert len(blob) < arr.nbytes // 4, (len(blob), arr.nbytes)
    # sparse costs a u32 index per NONZERO counter plus its value
    nnz = np.count_nonzero(arr)
    assert len(blob) == header + 4 + nnz * (4 + arr.itemsize)
    back = cls.from_bytes(blob)
    assert (getattr(back, attr) == arr).all()
    assert back.to_bytes() == blob

    merged = cls.from_bytes(blob).merge(cls.from_bytes(dense_blob))
    direct = low.merge(high)  # in-place for some kinds: run it last
    assert (getattr(merged, attr) == getattr(direct, attr)).all()
    assert merged.to_bytes() == direct.to_bytes()

    bad = bytearray(blob)
    struct.pack_into("<H", bad, 4, 3)
    with pytest.raises(ValueError, match="version 3"):
        cls.from_bytes(bytes(bad))


def test_sql_default_filter_blobs_are_sparse():
    """cbf_agg / cuckoo_agg at their SQL defaults (sized for 1M keys)
    over 167 keys ship only the touched counters: the dense forms are
    57.5 MB and 8.4 MB, which SQL readers then copied once per row."""
    import pandas as pd
    from facs_spark.functions import _agg_specs

    keys = pd.Series(np.arange(167, dtype=np.int64))
    for name, limit in (("cbf_agg", 64 << 10), ("cuckoo_agg", 8 << 10)):
        spec = _agg_specs()[name]
        sk = spec.new_sketch()
        spec.update(sk, keys)
        blob = sk.to_bytes()
        assert len(blob) < limit, (name, len(blob))
        assert sketch_from_bytes(blob).contains_batch(keys.to_numpy()).all()


def test_theta_sketch_estimate_merge_intersection():
    """Theta/KMV: exact below k, within published RSE above, union via
    merge, and DIRECT intersection estimates with the per-call bound —
    the set-operation algebra HLL can't provide."""
    from facs_spark.sketch.theta import ThetaSketch
    from facs_spark.sketch import sketch_from_bytes
    exact = ThetaSketch(k=256)
    exact.update_batch(np.arange(100, dtype=np.int64))
    assert exact.estimate() == 100.0  # exact mode below k

    a = ThetaSketch(k=4096)
    b = ThetaSketch(k=4096)
    a.update_batch(np.arange(0, 60_000, dtype=np.int64))       # |A|=60k
    b.update_batch(np.arange(40_000, 110_000, dtype=np.int64))  # |B|=70k
    rse = a.relative_error
    assert abs(a.estimate() - 60_000) <= 3 * rse * 60_000
    u = a.merge(b)
    assert abs(u.estimate() - 110_000) <= 3 * rse * 110_000
    inter = a.intersect_estimate(b)
    assert abs(inter - 20_000) <= a.d2_bound(b), (inter, a.d2_bound(b))
    # serialization roundtrip via the registry
    back = sketch_from_bytes(u.to_bytes())
    assert back.estimate() == u.estimate()
    assert back.theta == u.theta


def test_theta_merge_partitioning_invariance():
    """Any split of the input into partial sketches must merge to the
    SAME estimates (the mergeable-UDAF contract, like every other
    sketch in the family)."""
    from facs_spark.sketch.theta import ThetaSketch
    rng = np.random.default_rng(5)
    vals = rng.integers(0, 1 << 62, size=30_000, dtype=np.int64)
    whole = ThetaSketch(k=1024)
    whole.update_batch(vals)
    for nsplit in (2, 7, 32):
        parts = np.array_split(vals, nsplit)
        merged = None
        for chunk in parts:
            p = ThetaSketch(k=1024)
            if chunk.size:
                p.update_batch(chunk)
            merged = p if merged is None else merged.merge(p)
        assert merged.theta_bits == whole.theta_bits, nsplit
        assert (merged.hashes == whole.hashes).all(), nsplit


def test_theta_via_spark_build(tmp_path):
    """theta works through the generic build_sketch partial+merge
    path like every other kind."""
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    from facs_spark.session import get_spark
    spark = get_spark("theta_test", cpus=4, shuffle_partitions=4)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sk, rows = build_sketch(docs, SketchSpec.make("theta", "doc_id", k=1024))
    exact = docs.select("doc_id").distinct().count()
    assert rows == docs.count()
    assert abs(sk.estimate() - exact) <= max(3 * sk.relative_error * exact, 1)


# ---------------------------------------------------------------- MG
def test_mg_undercount_only_and_bound():
    from facs_spark.sketch import MisraGries
    r = np.random.default_rng(11)
    vals = [f"t{v}" for v in r.zipf(1.25, 100_000)]
    mg = MisraGries(k=128)
    # feed in uneven batches to exercise the amortized decrement
    for lo in range(0, len(vals), 7_919):
        mg.update_batch(vals[lo:lo + 7_919])
    import collections
    exact = collections.Counter(vals)
    assert mg.total == len(vals)
    assert len(mg.counters) <= 128
    bound = len(vals) / 129
    for key, true in exact.most_common(200):
        est = mg.estimate(key)
        assert est <= true                      # undercount only
        assert true - est <= bound              # deterministic MG bound
        if true > bound:
            assert est > 0                      # heavy keys always present


def test_mg_merge_any_order_keeps_bound():
    from facs_spark.sketch import MisraGries
    r = np.random.default_rng(12)
    vals = [f"t{v}" for v in r.zipf(1.3, 60_000)]
    import collections
    exact = collections.Counter(vals)
    parts = [vals[i::5] for i in range(5)]
    sks = []
    for p in parts:
        s = MisraGries(k=96)
        s.update_batch(p)
        sks.append(s)
    # two different merge trees — the bound must hold for both
    left = sks[0]
    for s in sks[1:]:
        left = left.merge(s)
    paired = sks
    while len(paired) > 1:
        paired = [paired[i].merge(paired[i + 1]) if i + 1 < len(paired)
                  else paired[i] for i in range(0, len(paired), 2)]
    bound = len(vals) / 97
    for m in (left, paired[0]):
        assert m.total == len(vals)
        assert len(m.counters) <= 96
        for key, true in exact.most_common(100):
            est = m.estimate(key)
            assert est <= true and true - est <= bound


def test_mg_roundtrip_and_int_keys():
    from facs_spark.sketch import MisraGries
    mg = MisraGries(k=16)
    mg.update_batch(np.array([1, 1, 2, 3, 1, 2], dtype=np.int64))
    mg.update_batch(["a", "a", "b"])
    back = sketch_from_bytes(mg.to_bytes())
    assert back.counters == mg.counters
    assert back.total == mg.total == 9
    assert back.estimate(1) == 3 and back.estimate("a") == 2
    hh = mg.heavy_hitters(threshold=1)
    assert ("a", 2) in hh and (1, 3) in hh


# ---------------------------------------------------------------- FD
def test_fd_spectral_bound_and_merge():
    from facs_spark.sketch import FrequentDirections
    r = np.random.default_rng(13)
    # decaying spectrum (realistic embeddings)
    a = r.standard_normal((4000, 48)) @ np.diag(np.linspace(2.5, 0.05, 48))
    gram = a.T @ a
    frob2 = float((a ** 2).sum())
    fd = FrequentDirections(l=12, d=48)
    fd.update_batch(a)
    assert abs(fd.frob2 - frob2) <= 1e-6 * frob2
    assert fd.n_rows == 4000
    err = np.linalg.norm(gram - fd.gram(), 2)
    assert err <= frob2 / 12
    # merged across chunks, pairwise tree — same published bound
    sks = []
    for c in np.array_split(a, 7):
        s = FrequentDirections(l=12, d=48)
        s.update_batch(c)
        sks.append(s)
    while len(sks) > 1:
        sks = [sks[i].merge(sks[i + 1]) if i + 1 < len(sks) else sks[i]
               for i in range(0, len(sks), 2)]
    m = sks[0]
    assert m.n_rows == 4000 and abs(m.frob2 - frob2) <= 1e-6 * frob2
    assert np.linalg.norm(gram - m.gram(), 2) <= frob2 / 12


def test_fd_flat_spectrum_worst_case():
    # flat spectra are FD's adversarial input; the deterministic
    # theorem must still hold (merged and single-pass)
    from facs_spark.sketch import FrequentDirections
    r = np.random.default_rng(14)
    a = r.standard_normal((3000, 32))
    gram = a.T @ a
    frob2 = float((a ** 2).sum())
    one = FrequentDirections(l=8, d=32)
    one.update_batch(a)
    assert np.linalg.norm(gram - one.gram(), 2) <= frob2 / 8
    sks = []
    for c in np.array_split(a, 9):
        s = FrequentDirections(l=8, d=32)
        s.update_batch(c)
        sks.append(s)
    m = sks[0]
    for s in sks[1:]:
        m = m.merge(s)
    assert np.linalg.norm(gram - m.gram(), 2) <= frob2 / 8


def test_fd_psd_underestimate_and_roundtrip():
    from facs_spark.sketch import FrequentDirections
    r = np.random.default_rng(15)
    a = r.standard_normal((500, 16))
    fd = FrequentDirections(l=6, d=16)
    fd.update_batch(a)
    gram = a.T @ a
    # A^T A - B^T B is PSD: the sketch never overestimates mass along
    # any direction (Ghashami et al. 2016, property (i))
    evs = np.linalg.eigvalsh(gram - fd.gram())
    assert evs.min() >= -1e-8 * max(1.0, evs.max())
    back = sketch_from_bytes(fd.to_bytes())
    assert back.n_rows == fd.n_rows
    assert abs(back.frob2 - fd.frob2) < 1e-12
    # wire blob carries at most l rows
    assert back.fill <= 6
    assert np.allclose(back.gram(), fd.gram())
    # exact when rank <= l: low-rank input reproduces its Gram exactly
    low = a[:, :3] @ r.standard_normal((3, 16))
    fd2 = FrequentDirections(l=6, d=16)
    fd2.update_batch(low)
    assert np.allclose(fd2.gram(), low.T @ low, atol=1e-6)


# --------------------------------------------------------------- AMS
def test_ams_bound_and_linearity():
    from facs_spark.sketch import AmsF2
    r = np.random.default_rng(16)
    freqs = np.minimum(r.zipf(1.4, 8_000), 1_000).astype(np.int64)
    items = np.repeat(np.arange(freqs.size, dtype=np.int64), freqs)
    r.shuffle(items)
    f2 = float((freqs.astype(np.float64) ** 2).sum())
    a = AmsF2(r=5, c=256, seed=42)
    for lo in range(0, items.size, 7_919):
        a.update_batch(items[lo:lo + 7_919])
    assert a.total == items.size
    assert abs(a.estimate() - f2) <= a.error_bound() * f2
    # z is linear: weighted update == repeated update
    b = AmsF2(r=5, c=256, seed=42)
    b.update_batch(np.arange(freqs.size, dtype=np.int64), weights=freqs)
    assert np.array_equal(a.z, b.z) and a.total == b.total


def test_ams_merge_equals_single_pass_any_tree():
    from facs_spark.sketch import AmsF2
    r = np.random.default_rng(17)
    items = r.integers(0, 3_000, size=50_000).astype(np.int64)
    whole = AmsF2(r=4, c=128, seed=7)
    whole.update_batch(items)
    parts = np.array_split(items, 9)
    sks = []
    for p in parts:
        s = AmsF2(r=4, c=128, seed=7)
        s.update_batch(p)
        sks.append(s)
    while len(sks) > 1:  # pairwise tree
        sks = [sks[i].merge(sks[i + 1]) if i + 1 < len(sks) else sks[i]
               for i in range(0, len(sks), 2)]
    assert np.array_equal(sks[0].z, whole.z)
    assert sks[0].total == whole.total
    back = sketch_from_bytes(whole.to_bytes())
    assert np.array_equal(back.z, whole.z)
    assert back.estimate() == whole.estimate()
    import pytest
    with pytest.raises(ValueError):
        whole.merge(AmsF2(r=4, c=128, seed=8))  # different sign hashes


def test_ams_string_and_int_keys_consistent():
    from facs_spark.sketch import AmsF2
    a = AmsF2(r=3, c=64, seed=1)
    a.update_batch(["x", "y", "x", "z"])
    b = AmsF2(r=3, c=64, seed=1)
    b.update_batch(["x", "x"])
    b2 = AmsF2(r=3, c=64, seed=1)
    b2.update_batch(["y", "z"])
    assert np.array_equal(a.z, b.merge(b2).z)


# --------------------------------------------------------------- CBF
def test_cbf_delete_keeps_bloom_contract():
    from facs_spark.sketch import CountingBloom
    keys = np.arange(20_000, dtype=np.int64)
    cbf = CountingBloom.create(capacity=20_000, error_rate=1e-3)
    cbf.add_batch(keys)
    cbf.remove_batch(keys[::2])
    mem = cbf.contains_batch(keys)
    assert mem[1::2].all()              # zero false negatives for kept
    aliens = np.arange(10**6, 10**6 + 20_000, dtype=np.int64)
    fpr = cbf.contains_batch(aliens).mean()
    assert fpr <= 5 * cbf.fpr() + 1e-3  # FPR near the load-factor bound
    assert not cbf.saturated and not cbf.underflowed
    cbf.remove_batch(np.array([10**7], dtype=np.int64))
    assert cbf.underflowed              # bad revoke observable, not silent


def test_cbf_merge_is_saturating_add_and_roundtrips():
    from facs_spark.sketch import CountingBloom
    a = CountingBloom.create(capacity=1_000, error_rate=1e-4)
    b = CountingBloom(m=a.m, k=a.k)
    a.add_batch(np.arange(0, 500, dtype=np.int64))
    b.add_batch(np.arange(500, 1_000, dtype=np.int64))
    whole = CountingBloom(m=a.m, k=a.k)
    whole.add_batch(np.arange(0, 1_000, dtype=np.int64))
    merged = a.merge(b)
    assert np.array_equal(merged.counters, whole.counters)
    assert merged.inserts == whole.inserts == 1_000
    back = sketch_from_bytes(merged.to_bytes())
    assert np.array_equal(back.counters, merged.counters)
    assert back.inserts == merged.inserts
    import pytest
    with pytest.raises(ValueError):
        merged.merge(CountingBloom(m=merged.m + 8, k=merged.k))


def test_cbf_batch_dedup_multiset_insensitive():
    from facs_spark.sketch import CountingBloom
    a = CountingBloom(m=1 << 12, k=4)
    a.add_batch(np.array([5, 5, 5, 9], dtype=np.int64))
    b = CountingBloom(m=1 << 12, k=4)
    b.add_batch(np.array([5, 9], dtype=np.int64))
    assert np.array_equal(a.counters, b.counters)
    a.remove_batch(np.array([5, 5], dtype=np.int64))  # dedup on remove too
    assert not a.contains_batch(np.array([5], dtype=np.int64))[0]
    assert a.contains_batch(np.array([9], dtype=np.int64))[0]
    assert not a.underflowed


def test_ams_inner_product_join_size_bound():
    from facs_spark.sketch import AmsF2
    r = np.random.default_rng(19)
    ka = r.integers(0, 800, 5_000).astype(np.int64)
    kb = r.integers(0, 800, 4_000).astype(np.int64)
    fa = np.bincount(ka, minlength=800)
    fb = np.bincount(kb, minlength=800)
    true = float((fa * fb).sum())
    a = AmsF2(r=5, c=256, seed=9)
    a.update_batch(ka)
    b = AmsF2(r=5, c=256, seed=9)
    b.update_batch(kb)
    assert abs(a.inner_product(b) - true) <= a.inner_product_bound(b)
    # symmetric, and self inner product == F2 estimate path
    assert a.inner_product(b) == b.inner_product(a)
    f2a = float((fa.astype(np.float64) ** 2).sum())
    assert abs(a.inner_product(a) - f2a) <= a.error_bound() * f2a
    import pytest
    with pytest.raises(ValueError):
        a.inner_product(AmsF2(r=5, c=256, seed=10))


def test_theta_difference_exact_estimation_and_identity():
    """a-not-b: exact in exact mode (zero bound), inside the bound in
    estimation mode, and the shared-threshold sample partitions
    EXACTLY into difference + intersection counts (the algebra's
    internal consistency)."""
    from facs_spark.sketch.theta import ThetaSketch

    a = ThetaSketch(k=4096)
    b = ThetaSketch(k=4096)
    a.update_batch([f"x{i}" for i in range(1000)])
    b.update_batch([f"x{i}" for i in range(600, 1600)])
    assert a.difference_estimate(b) == 600.0
    assert a.difference_bound(b) == 0.0
    assert b.difference_estimate(a) == 600.0

    a = ThetaSketch(k=1024)
    b = ThetaSketch(k=1024)
    a.update_batch([f"x{i}" for i in range(100000)])
    b.update_batch([f"x{i}" for i in range(60000, 160000)])
    est, bound = a.difference_estimate(b), a.difference_bound(b)
    assert abs(est - 60000) <= bound, (est, bound)
    th_bits = a._min_theta_bits(b)
    mine = a.hashes[a.hashes < np.uint64(th_bits)]
    d = np.setdiff1d(mine, b.hashes, assume_unique=True).size
    c = np.intersect1d(a.hashes, b.hashes, assume_unique=True)
    c = c[c < np.uint64(th_bits)].size
    assert d + c == mine.size

    # difference against an empty sketch is the full estimate
    empty = ThetaSketch(k=1024)
    assert a.difference_estimate(empty) == a.estimate()


def test_countsketch_unbiased_two_sided_and_bound():
    """Count-Sketch errors run BOTH directions (the property CMS
    cannot have — cms only over-counts) with near-zero mean, and
    every heavy-hitter estimate sits inside the published
    ±sqrt(3·F2/c) bound."""
    from facs_spark.sketch.countsketch import CountSketch

    counts = {f"tok{i}": max(1, 20000 // i) for i in range(1, 2001)}
    items = [k for k, f in counts.items() for _ in range(f)]
    cs = CountSketch(r=7, c=4096, seed=42)
    cs.update_batch(items)

    keys = list(counts)
    est = cs.estimate_batch(keys)
    exact = np.array([counts[k] for k in keys], dtype=np.float64)
    errs = est - exact
    assert (errs < 0).any() and (errs > 0).any()
    assert abs(errs.mean()) < 5.0
    bound = cs.error_bound()
    heavy = [f"tok{i}" for i in (1, 2, 5, 10, 100, 1000)]
    he = cs.estimate_batch(heavy)
    hx = np.array([counts[k] for k in heavy], dtype=np.float64)
    assert (np.abs(he - hx) <= bound).all(), (he, hx, bound)
    # F2 self-estimate within the AMS relative bound at c buckets
    f2 = float((exact ** 2).sum())
    assert abs(cs.f2_estimate() - f2) <= math.sqrt(16.0 / cs.c) * f2


def test_countsketch_merge_equals_single_pass_and_roundtrip():
    """z is linear in the multiset: any partition of the input
    merged in any order equals the single-pass sketch bit-exactly;
    the wire format round-trips the full state."""
    from facs_spark.sketch.countsketch import CountSketch

    items = [f"k{i % 509}" for i in range(30000)]
    single = CountSketch(r=5, c=1024, seed=9)
    single.update_batch(items)

    parts = [items[i::7] for i in range(7)]
    sks = []
    for p in parts:
        s = CountSketch(r=5, c=1024, seed=9)
        s.update_batch(p)
        sks.append(s)
    # right-fold in reversed order — different tree than left-fold
    acc = sks[-1]
    for s in reversed(sks[:-1]):
        acc = s.merge(acc)
    assert np.array_equal(acc.z, single.z)
    assert acc.total == single.total

    rt = CountSketch.from_bytes(single.to_bytes())
    assert np.array_equal(rt.z, single.z)
    assert (rt.r, rt.c, rt.seed, rt.total) == \
        (single.r, single.c, single.seed, single.total)

    import pytest
    with pytest.raises(ValueError):
        single.merge(CountSketch(r=5, c=2048, seed=9))
    with pytest.raises(ValueError):
        CountSketch(r=3, c=1000)  # not a power of two


def test_dgim_bound_holds_and_exact_when_unstraddled():
    """DGIM's per-query bound is DETERMINISTIC: against a brute-force
    ring buffer on a random bit stream, every estimate is within its
    own reported abs_bound, exact whenever the bound is 0, within
    1/(r-1) relative once the window is saturated, and the bucket
    invariant (≤ r per size) holds throughout."""
    from collections import Counter, deque

    from facs_spark.sketch.dgim import Dgim

    rng = np.random.default_rng(7)
    n, r = 512, 4
    dg = Dgim(n=n, r=r)
    ring = deque(maxlen=n)
    saturated_checked = 0
    for step in range(60):
        bits = (rng.random(rng.integers(1, 200)) < 0.4).astype(np.int64)
        dg.update(bits)
        ring.extend(bits.tolist())
        exact = sum(ring)
        est, bound = dg.query()
        assert abs(est - exact) <= bound, (step, est, exact, bound)
        if bound == 0:
            assert est == exact
        if dg.pos >= n and exact > 0:
            assert abs(est - exact) <= exact / (r - 1) + 1e-9
            saturated_checked += 1
        sizes = Counter(dg.counts)
        assert all(v <= r for v in sizes.values()), sizes
        assert all(c & (c - 1) == 0 for c in dg.counts)
    assert saturated_checked > 20  # the sliding regime was exercised


def test_dgim_state_is_logarithmic_and_roundtrips():
    """Bucket count stays O(r·log n) on a long all-ones stream (the
    worst case) and the wire format round-trips the full state."""
    from facs_spark.sketch.dgim import Dgim

    n, r = 1 << 14, 8
    dg = Dgim(n=n, r=r)
    for _ in range(10):
        dg.update(np.ones(n // 2, dtype=np.int64))
    assert dg.num_buckets <= r * (math.log2(n) + 2)
    est, bound = dg.query()
    assert abs(est - n) <= bound  # window is saturated with ones

    rt = Dgim.from_bytes(dg.to_bytes())
    assert (rt.n, rt.r, rt.pos) == (dg.n, dg.r, dg.pos)
    assert rt.counts == dg.counts
    assert rt.firsts == dg.firsts
    assert rt.lasts == dg.lasts
    assert rt.query() == dg.query()

    import pytest
    with pytest.raises(ValueError):
        Dgim(n=0)
    with pytest.raises(ValueError):
        Dgim(n=8, r=1)


def test_dgim_batch_split_invariance():
    """Folding the same bit stream in different batch splits yields
    the identical structure — the property the streaming state-store
    fold relies on (micro-batch boundaries must not matter)."""
    from facs_spark.sketch.dgim import Dgim

    rng = np.random.default_rng(11)
    bits = (rng.random(5000) < 0.3).astype(np.int64)
    one = Dgim(n=256, r=2)
    one.update(bits)
    split = Dgim(n=256, r=2)
    i = 0
    while i < len(bits):
        j = min(len(bits), i + int(rng.integers(1, 97)))
        split.update(bits[i:j])
        i = j
    assert one.counts == split.counts
    assert one.firsts == split.firsts
    assert one.lasts == split.lasts
    assert one.pos == split.pos


def test_cuckoo_membership_delete_and_fpp():
    """Cuckoo contract: zero false negatives for kept keys, deletion
    actually revokes (no Bloom-style rebuild), observed FPP within
    the published 2b/2^f bound, and a high-load build still inserts
    everything via the kick walk."""
    from facs_spark.sketch.cuckoo import CuckooFilter

    keys = [f"key{i}" for i in range(20000)]
    cf = CuckooFilter.create(len(keys), fbits=16, seed=3)
    cf.add_batch(keys)
    assert cf.contains_batch(keys).all()          # no false negatives
    assert not cf.full
    assert 0.5 < cf.load_factor <= 0.95           # kicks were exercised

    revoked = keys[::5]
    assert cf.remove_batch(revoked).all()         # every removal found
    assert cf.contains_batch(keys[1::5]).all()    # kept keys still in
    # revoked keys are OUT modulo fingerprint collisions with kept
    # keys, bounded by the published FPP
    still = cf.contains_batch(revoked).mean()
    assert still <= 3 * cf.fpp() + 3e-3, still

    other = [f"other{i}" for i in range(20000)]
    fpr = cf.contains_batch(other).mean()
    assert fpr <= 3 * cf.fpp(), (fpr, cf.fpp())
    # f=32 reaches the oracle-exact regime
    cf32 = CuckooFilter.create(2000, fbits=32, seed=3)
    cf32.add_batch(keys[:2000])
    assert cf32.contains_batch(other).sum() == 0


def test_cuckoo_merge_and_roundtrip():
    """Partial-key identity: a merge of per-partition partials
    contains exactly the union (every fingerprint's bucket pair is
    reconstructible from where it sits); the wire format round-trips;
    an undersized merge fails LOUDLY instead of dropping keys."""
    import pytest

    from facs_spark.sketch.cuckoo import CuckooFilter

    keys = [f"doc{i}" for i in range(9000)]
    parts = [keys[i::3] for i in range(3)]
    sks = []
    for p in parts:
        s = CuckooFilter.create(len(keys), fbits=16, seed=7)
        s.add_batch(p)
        sks.append(s)
    acc = sks[0].merge(sks[1]).merge(sks[2])
    assert acc.inserts == len(keys)
    assert acc.contains_batch(keys).all()
    single = CuckooFilter.create(len(keys), fbits=16, seed=7)
    single.add_batch(keys)
    # membership answers are IDENTICAL to the one-shot build: slots
    # may differ but lookups check both candidate buckets, and both
    # tables hold the same (fingerprint, bucket-pair) multiset
    probe = keys + [f"x{i}" for i in range(5000)]
    assert np.array_equal(acc.contains_batch(probe),
                          single.contains_batch(probe))

    rt = CuckooFilter.from_bytes(acc.to_bytes())
    assert np.array_equal(rt.table, acc.table)
    assert (rt.m, rt.b, rt.fbits, rt.seed, rt.inserts, rt.full) == \
        (acc.m, acc.b, acc.fbits, acc.seed, acc.inserts, acc.full)

    tiny = CuckooFilter.create(100, fbits=16, seed=7)
    with pytest.raises(ValueError):
        tiny.add_batch(keys)  # capacity overflow is loud
    with pytest.raises(ValueError):
        sks[0].merge(CuckooFilter.create(100, fbits=8, seed=7))


def test_cuckoo_build_is_deterministic():
    """Seeded kick walk: identical inputs rebuild the identical
    table bit-for-bit (reproducible distributed builds)."""
    from facs_spark.sketch.cuckoo import CuckooFilter

    keys = [f"k{i}" for i in range(15000)]
    a = CuckooFilter.create(len(keys), seed=11)
    b = CuckooFilter.create(len(keys), seed=11)
    a.add_batch(keys)
    b.add_batch(keys)
    assert np.array_equal(a.table, b.table)


def test_countsketch_subtract_is_signed_stream_and_tighter():
    """Linearity payoff: cs(a).subtract(cs(b)) is BIT-EXACTLY the
    one-pass sketch of the signed stream (+1 for a, −1 for b), its
    estimates are unbiased deltas, and for similar streams the
    difference's self-priced bound is far TIGHTER than either
    side's — the property CMS's one-sided overcounts cannot have."""
    from facs_spark.sketch.countsketch import CountSketch

    rng = np.random.default_rng(5)
    base = {f"w{i}": int(v) for i, v in
            enumerate(rng.integers(50, 500, size=400))}
    a = dict(base)
    b = dict(base)
    a["w1"] += 40
    b["w2"] += 25
    b["gone"] = 30

    def build(counts):
        cs = CountSketch(r=7, c=2048, seed=13)
        keys = list(counts)
        cs.update_batch(keys, np.array([counts[k] for k in keys]))
        return cs

    ca, cb = build(a), build(b)
    bound_a = ca.error_bound()
    delta = ca.subtract(cb)

    signed = CountSketch(r=7, c=2048, seed=13)
    keys = sorted(set(a) | set(b))
    w = np.array([a.get(k, 0) - b.get(k, 0) for k in keys])
    signed.update_batch(keys, w)
    assert np.array_equal(delta.z, signed.z)

    est = delta.estimate_batch(["w1", "w2", "gone", "w5"])
    exact = np.array([40, -25, -30, 0], dtype=np.float64)
    bound_d = delta.error_bound()
    assert (np.abs(est - exact) <= bound_d).all(), (est, bound_d)
    # the difference stream's F2 is tiny vs either input's
    assert bound_d < bound_a / 10, (bound_d, bound_a)
