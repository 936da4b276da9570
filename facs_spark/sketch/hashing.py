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

``key_column`` is the one rule that turns a column of values into the
keys of a keyed sketch; every such sketch builds and probes through it
(``key_hash_batch`` / ``raw_key_matrices``).
"""

from __future__ import annotations

import numpy as np

from ..kernels.shingle import encode_batch, utf8_batch, windows_at

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


def key_column(values) -> tuple[np.ndarray, np.ndarray]:
    """THE value -> key rule of every keyed sketch (Bloom, HLL, theta,
    CMS, Count-Sketch, AMS, CBF, cuckoo, Misra-Gries), on the build
    side and the probe side alike: ``(idx, keys)``, the rows that have
    a key and their keys.

    * int and uint columns: int64 keys;
    * float columns: the int64 value, and a NaN row has no key (an int
      column whose batch holds a NULL reaches a pandas UDF as float64,
      and must still find the members its int64 build inserted);
    * anything else: one ``key_strings`` string per row, NULL as "".

    Build and probe MUST both come through here: two rules that drift
    apart turn a filter's zero-false-negative guarantee into silent
    row loss, and a counter's estimate into 0.
    """
    arr = _column(values)
    if arr.dtype.kind in "iu":
        return np.arange(len(arr)), arr.astype(np.int64, copy=False)
    if arr.dtype.kind == "f":
        idx = np.flatnonzero(~np.isnan(arr))
        return idx, arr[idx].astype(np.int64)
    return np.arange(len(arr)), key_strings(arr)


def spread(n: int, idx: np.ndarray, answers: np.ndarray) -> np.ndarray:
    """A probe's answers for the keyed rows ``idx`` (``key_column``)
    spread over all ``n`` rows; a row with no key reads absent (False,
    0 or 0.0)."""
    out = np.zeros(n, dtype=answers.dtype)
    out[idx] = answers
    return out


def _key_groups(keys: np.ndarray, lower: bool):
    """(positions, (n, L) uint8 matrix) groups of a ``key_column`` key
    array: int64 keys as one matrix of their 8-byte little-endian form;
    strings as their UTF-8 bytes (ASCII-lowercased when ``lower``),
    one matrix per byte length, shortest first.  The strings go through
    one Arrow conversion, with no per-value Python loop."""
    if keys.dtype != object:
        yield np.arange(len(keys)), int64_key_matrix(keys)
        return
    buf, offsets, lengths = (encode_batch if lower else utf8_batch)(keys)
    order = np.argsort(lengths, kind="stable")
    for pos in np.split(order, np.flatnonzero(np.diff(lengths[order])) + 1):
        if pos.size:
            width = int(lengths[pos[0]])
            yield pos, (windows_at(buf, offsets[pos], width) if width
                        else np.empty((pos.size, 0), dtype=np.uint8))


def key_hash_batch(values, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """``(idx, hashes)``: the lookup8 hash of every ``key_column`` key,
    the hash all the counting and distinct sketches (HLL, theta, CMS,
    Count-Sketch, AMS, CBF, cuckoo) take their indices from; ``idx``
    are the rows that have a key, in order."""
    idx, keys = key_column(values)
    out = np.empty(len(keys), dtype=U64)
    for pos, mat in _key_groups(keys, lower=False):
        out[pos] = hash3_matrix(mat, seed)
    return idx, out


def raw_key_matrices(values):
    """(indices, (n, L) uint8 matrix) pairs for a raw key column, the
    Bloom's build/probe encoding (``BloomFilter.update_batch`` /
    ``contains_values``, and ``token_containment_grid``, which encodes
    a token group once for several filters): the ``key_column`` keys,
    strings ASCII-lowercased like the reference's keys."""
    idx, keys = key_column(values)
    for pos, mat in _key_groups(keys, lower=True):
        yield idx[pos], mat
