"""Vectorized 64-bit hashing for the sketch kernels.

The membership-sketch hash reproduces the semantics of the reference
engine's hash chain (Bob Jenkins' public-domain ``lookup8`` ``hash3``
as used by facs: ``facs/lookup8.c:243-340`` + ``mix64``
``facs/lookup8.c:46-60``, masked to 36 bits in ``hash5``
``facs/lookup8.c:548-554``, salted with the 20 integer seeds at
``facs/bloom.c:25`` and reduced mod a prime bit-array size at
``facs/bloom.c:163-168``).  The reference hashes one key at a time in
C; here the same function is evaluated for a whole Arrow batch of
fixed-length keys at once as numpy ``uint64`` lanes, so a single call
hashes every k-gram window of every page in the batch.  All arithmetic
is mod-2^64 (numpy uint64 wraparound == C unsigned overflow).

``splitmix64`` is the general-purpose 64-bit mixer (Steele et al.,
"Fast splittable pseudorandom number generators", OOPSLA 2014 —
public) used by the HLL / CMS / MinHash / SimHash kernels where facs
parity is not required.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_MASK36 = np.uint64(0xFFFFFFFFF)  # hash5 36-bit mask (facs/lookup8.c:552)
_GOLDEN = np.uint64(0x9E3779B97F4A7C13)  # golden ratio init for c
_BLOCK = 1 << 15  # keys per hash block: ~256 KiB per uint64 temporary

# The reference's 20 salt seeds (facs/bloom.c:25); index i = hash i.
FACS_SEEDS: tuple[int, ...] = (
    152501029, 152501717, 152503097, 152500171, 152500157, 152504837,
    10161313, 10371313, 10431313, 10501313, 10581313, 10611313,
    10641313, 10651313, 10671313, 10731313, 10821313, 10881313,
    10951313, 11001313,
)


def _mix64(a: np.ndarray, b: np.ndarray, c: np.ndarray):
    """Jenkins 64-bit reversible mix; element-wise over uint64 lanes."""
    sh = [43, 9, 8, 38, 23, 5, 35, 49, 11, 12, 18, 22]
    a -= b; a -= c; a ^= c >> U64(sh[0])
    b -= c; b -= a; b ^= a << U64(sh[1])
    c -= a; c -= b; c ^= b >> U64(sh[2])
    a -= b; a -= c; a ^= c >> U64(sh[3])
    b -= c; b -= a; b ^= a << U64(sh[4])
    c -= a; c -= b; c ^= b >> U64(sh[5])
    a -= b; a -= c; a ^= c >> U64(sh[6])
    b -= c; b -= a; b ^= a << U64(sh[7])
    c -= a; c -= b; c ^= b >> U64(sh[8])
    a -= b; a -= c; a ^= c >> U64(sh[9])
    b -= c; b -= a; b ^= a << U64(sh[10])
    c -= a; c -= b; c ^= b >> U64(sh[11])
    return a, b, c


def pack_lanes(keys: np.ndarray) -> np.ndarray:
    """Pack an (n, L) uint8 key matrix once into little-endian uint64
    lanes: row j of the ``(ceil(L/8), n)`` result holds key bytes
    8j..8j+7, zero-padded past L (the lookup8 tail's zero fill).

    Each lane is one strided unaligned 8-byte read per key.  A partial
    last lane reads the key's final 8 bytes and shifts the overlap out,
    so no read leaves its key's row (nor a buffer that ends at the last
    key); only keys under 8 bytes are copied into a zero pad.
    """
    n, length = keys.shape
    if length < 8:  # no 8-byte read fits inside a key: pad a copy
        pad = np.zeros((n, 8), dtype=np.uint8)
        pad[:, :length] = keys
        return np.ascontiguousarray(pad.view("<u8").T[:-(-length // 8)])
    lanes = np.empty((-(-length // 8), n), dtype=U64)
    if keys.strides[1] != 1:
        keys = np.ascontiguousarray(keys)
    for j in range(lanes.shape[0]):
        lo = min(8 * j, length - 8)
        np.right_shift(keys[:, lo:lo + 8].view("<u8")[:, 0],
                       U64(8 * (8 * j - lo)), out=lanes[j])
    return lanes


def hash3_lanes(lanes: np.ndarray, length: int,
                level: int | np.ndarray) -> np.ndarray:
    """lookup8 ``hash3`` over ``pack_lanes`` output for keys of
    ``length`` bytes; ``level`` is the salt seed (scalar, or per-key
    uint64 array).  Hashing the same keys under k seeds packs them
    once, not k times.  Keys go through in blocks of ``_BLOCK`` so the
    mix's ~50 temporaries stay cache-resident."""
    n = lanes.shape[1]
    level = np.broadcast_to(np.asarray(level, dtype=U64), (n,))
    out = np.empty(n, dtype=U64)
    full, rem = length // 24 * 3, length % 24  # 24-byte blocks, tail
    with np.errstate(over="ignore"):
        for s in range(0, n, _BLOCK):
            blk = lanes[:, s:s + _BLOCK]
            a = level[s:s + _BLOCK].astype(U64)  # a copy: mixed in place
            b = a.copy()
            c = np.full(blk.shape[1], _GOLDEN, dtype=U64)
            for j in range(0, full, 3):
                a += blk[j]
                b += blk[j + 1]
                c += blk[j + 2]
                a, b, c = _mix64(a, b, c)
            c += U64(length)
            # The 23-case tail switch adds tail bytes 0..7 to a, 8..15
            # to b and 16..22 to c<<8 (c's low byte holds the length):
            # exactly the zero-padded tail lanes.
            if rem:
                a += blk[full]
            if rem > 8:
                b += blk[full + 1]
            if rem > 16:
                c += blk[full + 2] << U64(8)
            out[s:s + _BLOCK] = _mix64(a, b, c)[2]
    return out


def hash3_matrix(keys: np.ndarray, level: int | np.ndarray) -> np.ndarray:
    """Vectorized lookup8 ``hash3`` over an (n, L) uint8 key matrix:
    every row is one fixed-length key (e.g. one k-gram window)."""
    if keys.ndim != 2:
        raise ValueError("keys must be (n, L) uint8")
    return hash3_lanes(pack_lanes(keys), keys.shape[1], level)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over uint64 lanes (public constants).

    In-place temporaries: one working copy + one shift buffer, reused
    across the three mix rounds (this runs on multi-million-lane
    arrays in the dedup hot path).
    """
    with np.errstate(over="ignore"):
        z = x.astype(U64, copy=True)
        z += U64(0x9E3779B97F4A7C15)
        t = z >> U64(30)
        z ^= t
        z *= U64(0xBF58476D1CE4E5B9)
        np.right_shift(z, U64(27), out=t)
        z ^= t
        z *= U64(0x94D049BB133111EB)
        np.right_shift(z, U64(31), out=t)
        z ^= t
    return z


def int64_key_matrix(values: np.ndarray) -> np.ndarray:
    """int64/uint64 column → (n, 8) little-endian uint8 key matrix."""
    v = np.ascontiguousarray(values.astype(np.int64, copy=False))
    return v.view(np.uint8).reshape(-1, 8)


_ASCII_LOWER = bytes(c + 32 if 65 <= c <= 90 else c for c in range(256))


def ascii_lower(b: bytes) -> bytes:
    """Byte-level ASCII tolower — THE key normalization for Bloom keys
    (parity with the reference's per-byte C ``tolower``,
    facs/bloom.c:111-119).  Every code path that builds or probes
    string Bloom keys must use this, never unicode ``str.lower()``,
    or non-ASCII uppercase would hash differently on the two sides.
    """
    return b.translate(_ASCII_LOWER)


def length_group_matrices(values):
    """Group variable-length byte strings by length → key matrices.

    Yields ``(indices, (n, L) uint8 matrix)`` per distinct length, so
    downstream kernels stay fully vectorized over ragged inputs.
    """
    arr = np.asarray(values, dtype=object)
    n = len(arr)
    if n == 0:
        return
    lengths = np.fromiter((len(v) for v in arr), dtype=np.int64, count=n)
    for length in np.unique(lengths):
        idx = np.nonzero(lengths == length)[0]
        if length == 0:
            yield idx, np.empty((len(idx), 0), np.uint8)
        else:
            buf = np.frombuffer(b"".join(arr[idx]), dtype=np.uint8)
            yield idx, buf.reshape(len(idx), int(length))


def key_hash_batch(values, seed: int = 0) -> np.ndarray:
    """THE shared value→uint64 hash dispatch for the distinct/count
    sketches (HLL, CMS, theta): int/uint columns hash their 8-byte
    little-endian form, floats hash their IEEE-754 bit pattern (so
    distinct floats get distinct keys instead of crashing in the
    string path), everything else utf-8 string-hashes with None → "".
    One copy, three sketches — divergent per-sketch copies of this
    dispatch are how float inputs crashed ``update_batch``.
    """
    arr = _column(values)
    if arr.dtype.kind in "iu":
        return hash3_matrix(int64_key_matrix(arr), seed)
    if arr.dtype.kind == "f":
        # normalize before viewing bits: -0.0 + 0.0 → +0.0 (IEEE), so
        # 0.0/-0.0 hash identically (SQL DISTINCT semantics — the
        # oracles compare against it); NaNs collapse to one canonical
        # bit pattern for the same reason
        f = arr.astype(np.float64) + 0.0
        if np.isnan(f).any():
            f = np.where(np.isnan(f), np.float64("nan"), f)
        return hash3_matrix(int64_key_matrix(f.view(np.int64)), seed)
    return hash_strings_batch(arr, seed)


def _column(values) -> np.ndarray:
    """A key column as one numpy array, copying nothing it need not:
    a Series gives its own array, and a list of strings becomes an
    object array.  ``np.asarray`` would copy such a list into a
    fixed-width ``<U{maxlen}`` array of n x maxlen x 4 bytes, so one
    long value would widen every slot."""
    if hasattr(values, "to_numpy"):
        return values.to_numpy()
    if isinstance(values, np.ndarray):
        return values
    if len(values) and isinstance(values[0], str):
        return np.array(values, dtype=object)
    return np.asarray(values)


def key_strings(values) -> np.ndarray:
    """THE str form of a non-numeric key column, one value at a time:
    NULL (None, NaN, NaT) → "", anything else ``str(v)``.  Never
    pandas' ``astype(str)`` over a datetime column, which formats the
    column as a whole (an all-midnight batch drops its times, one
    fractional second pads every value), so one timestamp would read
    differently batch to batch and a build would miss its probes."""
    import pandas as pd

    s = pd.Series(values, dtype=object)
    return s.where(s.notna(), "").astype(str).to_numpy(dtype=object)


def raw_key_matrices(values):
    """(indices, (n, L) uint8 matrix) pairs for a raw key column —
    THE single build/probe encoding for raw Bloom keys, called only by
    ``BloomFilter.update_batch`` / ``contains_values`` (and by
    ``token_containment_grid``, which encodes a token group once for
    several filters): numeric columns become 8-byte little-endian
    int64 keys (a float NaN gets no key, so no index), anything else
    becomes its ``key_strings`` form, ascii-lowercased, in
    length-grouped byte matrices.  Build and probe MUST go through
    this one function — independent copies that drift would turn
    Bloom's zero-false-negative guarantee into silent row loss.
    """
    vals = _column(values)
    if vals.dtype.kind in "iu":
        yield np.arange(len(vals)), int64_key_matrix(vals)
    elif vals.dtype.kind == "f":
        idx = np.flatnonzero(~np.isnan(vals))
        yield idx, int64_key_matrix(vals[idx].astype(np.int64))
    else:
        enc = [ascii_lower(v.encode("utf-8")) for v in key_strings(vals)]
        yield from length_group_matrices(enc)


def hash_bytes_batch(values, seed: int) -> np.ndarray:
    """Vectorized hash of variable-length byte strings.

    Groups the batch by byte length and runs one ``hash3_matrix`` call
    per distinct length, so there is no per-row Python hashing in the
    hot path.  ``values``: sequence/array of ``bytes``.
    """
    out = np.zeros(len(values), dtype=U64)
    for idx, mat in length_group_matrices(values):
        out[idx] = hash3_matrix(mat, seed)
    return out


def hash_strings_batch(values, seed: int = 0) -> np.ndarray:
    """UTF-8 encode + length-grouped hash3 for a batch of strings."""
    enc = [("" if v is None else v).encode("utf-8") for v in values]
    return hash_bytes_batch(enc, seed)
