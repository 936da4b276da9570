"""Hash kernel tests: vectorized hash3 ≡ scalar reference port."""

import numpy as np
import pytest

from numpy.lib.stride_tricks import sliding_window_view

from facs_spark.sketch import BloomFilter
from facs_spark.sketch.hashing import (FACS_SEEDS, hash3_lanes, hash3_matrix,
                                       hash_bytes_batch,
                                       hash_strings_batch, int64_key_matrix,
                                       pack_lanes, splitmix64)

rng = np.random.default_rng(42)


def hash3_scalar(key: bytes, level: int) -> int:
    """Naive scalar port of facs ``hash3`` (facs/lookup8.c), the
    reference the vectorized ``hash3_matrix`` must match bit for bit."""
    M = 0xFFFFFFFFFFFFFFFF

    def mix(a, b, c):
        a = (a - b) & M; a = (a - c) & M; a ^= c >> 43
        b = (b - c) & M; b = (b - a) & M; b ^= (a << 9) & M
        c = (c - a) & M; c = (c - b) & M; c ^= b >> 8
        a = (a - b) & M; a = (a - c) & M; a ^= c >> 38
        b = (b - c) & M; b = (b - a) & M; b ^= (a << 23) & M
        c = (c - a) & M; c = (c - b) & M; c ^= b >> 5
        a = (a - b) & M; a = (a - c) & M; a ^= c >> 35
        b = (b - c) & M; b = (b - a) & M; b ^= (a << 49) & M
        c = (c - a) & M; c = (c - b) & M; c ^= b >> 11
        a = (a - b) & M; a = (a - c) & M; a ^= c >> 12
        b = (b - c) & M; b = (b - a) & M; b ^= (a << 18) & M
        c = (c - a) & M; c = (c - b) & M; c ^= b >> 22
        return a, b, c

    a = b = level & M
    c = 0x9E3779B97F4A7C13
    length = len(key)
    pos, rem = 0, length
    while rem >= 24:
        a = (a + int.from_bytes(key[pos : pos + 8], "little")) & M
        b = (b + int.from_bytes(key[pos + 8 : pos + 16], "little")) & M
        c = (c + int.from_bytes(key[pos + 16 : pos + 24], "little")) & M
        a, b, c = mix(a, b, c)
        pos += 24
        rem -= 24
    c = (c + length) & M
    for j in range(rem - 1, -1, -1):
        byte = key[pos + j]
        if j >= 16:
            c = (c + (byte << (8 * (j - 16) + 8))) & M
        elif j >= 8:
            b = (b + (byte << (8 * (j - 8)))) & M
        else:
            a = (a + (byte << (8 * j))) & M
    a, b, c = mix(a, b, c)
    return c


@pytest.mark.parametrize("length", [1, 2, 7, 8, 15, 16, 17, 23, 24, 25, 48, 53, 100])
def test_hash3_matrix_matches_scalar(length):
    keys = rng.integers(0, 256, size=(40, length), dtype=np.uint8)
    for seed in (0, 1, FACS_SEEDS[0], FACS_SEEDS[19]):
        vec = hash3_matrix(keys, seed)
        for i in range(keys.shape[0]):
            assert int(vec[i]) == hash3_scalar(keys[i].tobytes(), seed), (
                f"mismatch at row {i}, len {length}, seed {seed}")


@pytest.mark.parametrize("length", range(41))
def test_hash3_lanes_matches_scalar(length):
    """The lane hash over ``pack_lanes`` equals the scalar port for
    every key length 0..40: full 24-byte blocks, every tail case, and
    partial last lanes.  The keys are a view of a buffer that ends
    exactly at the last key, so a lane read past a key's end would
    either fail or fold foreign bytes into the hash."""
    n = 9
    buf = rng.integers(0, 256, size=n * length, dtype=np.uint8).tobytes()
    keys = np.frombuffer(buf, dtype=np.uint8).reshape(n, length)
    lanes = pack_lanes(keys)
    assert lanes.shape == (-(-length // 8), n)
    for seed in (0, FACS_SEEDS[7]):
        vec = hash3_lanes(lanes, length, seed)
        for i in range(n):
            assert int(vec[i]) == hash3_scalar(buf[i * length:(i + 1) * length],
                                               seed), (length, i, seed)


def test_hash3_matrix_on_overlapping_windows_and_per_key_seeds():
    """A sliding-window view (row stride 1, every lane read unaligned
    and overlapping the next key) and a per-key seed array hash like
    the scalar port."""
    buf = rng.integers(0, 256, size=60, dtype=np.uint8)
    wins = sliding_window_view(buf, 15)
    seeds = np.arange(wins.shape[0], dtype=np.uint64) * np.uint64(977)
    vec = hash3_matrix(wins, seeds)
    for i in range(wins.shape[0]):
        assert int(vec[i]) == hash3_scalar(buf[i:i + 15].tobytes(),
                                           int(seeds[i]))


def test_hash3_empty_key():
    out = hash3_matrix(np.empty((3, 0), dtype=np.uint8), 7)
    assert int(out[0]) == hash3_scalar(b"", 7)
    assert (out == out[0]).all()


def test_hash5_mask_36_bits():
    """facs ``hash5`` is ``hash3`` masked to 36 bits
    (facs/lookup8.c:548-554); a Bloom filter of up to 2^36 bits sets
    bit ``hash5(key, seed_i) % m`` for seed i."""
    keys = rng.integers(0, 256, size=(100, 15), dtype=np.uint8)
    bf = BloomFilter.create(capacity=1000, k_mer=15)
    m = bf.stat.elements
    byte_idx, spot = bf._bits(pack_lanes(keys), 15, 3)
    for i in range(len(keys)):
        h = hash3_scalar(keys[i].tobytes(), FACS_SEEDS[3])
        assert h >> 36  # the mask changes this hash
        p = (h & 0xFFFFFFFFF) % m
        assert (int(byte_idx[i]), int(spot[i])) == (p >> 3, 1 << (p & 7))


def test_hash_bytes_batch_groups_by_length():
    vals = [b"a", b"abc", b"a", b"longer-key-here", b"abc", b""]
    out = hash_bytes_batch(vals, 5)
    for v, h in zip(vals, out):
        assert int(h) == hash3_scalar(v, 5)
    assert out[0] == out[2] and out[1] == out[4]


def test_hash_strings_unicode():
    vals = ["héllo", "wörld", "héllo", None]
    out = hash_strings_batch(vals, 0)
    assert out[0] == out[2]
    assert int(out[3]) == hash3_scalar(b"", 0)


def test_splitmix64_deterministic_and_spread():
    x = np.arange(10000, dtype=np.uint64)
    h = splitmix64(x)
    assert len(np.unique(h)) == 10000
    assert (splitmix64(x) == h).all()
    # top bits roughly uniform
    top = (h >> np.uint64(63)).mean()
    assert 0.45 < top < 0.55


def test_int64_key_matrix_roundtrip():
    v = np.array([0, 1, -1, 2**62], dtype=np.int64)
    m = int64_key_matrix(v)
    assert m.shape == (4, 8)
    assert m.view("<i8").ravel().tolist() == v.tolist()
