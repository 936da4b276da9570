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


def _le64(block: np.ndarray) -> np.ndarray:
    """Little-endian pack of an (n, 8) uint8 block into uint64 lanes."""
    return np.ascontiguousarray(block).view("<u8").ravel().astype(U64, copy=False)


def _le64_pad(block: np.ndarray) -> np.ndarray:
    """Little-endian pack of an (n, <8) uint8 block, zero-padded."""
    n, w = block.shape
    padded = np.zeros((n, 8), dtype=np.uint8)
    padded[:, :w] = block
    return padded.view("<u8").ravel()


def hash3_matrix(keys: np.ndarray, level: int | np.ndarray) -> np.ndarray:
    """Vectorized lookup8 ``hash3`` over an (n, L) uint8 key matrix.

    Every row is one fixed-length key (e.g. one k-gram window); the
    whole batch is hashed in ~L/8 vector ops.  ``level`` is the salt
    seed (scalar, or per-row uint64 array).
    """
    if keys.ndim != 2:
        raise ValueError("keys must be (n, L) uint8")
    n, length = keys.shape
    with np.errstate(over="ignore"):
        a = np.full(n, level, dtype=U64) if np.isscalar(level) else level.astype(U64).copy()
        b = a.copy()
        c = np.full(n, _GOLDEN, dtype=U64)
        pos, rem = 0, length
        while rem >= 24:
            a += _le64(keys[:, pos : pos + 8])
            b += _le64(keys[:, pos + 8 : pos + 16])
            c += _le64(keys[:, pos + 16 : pos + 24])
            a, b, c = _mix64(a, b, c)
            pos += 24
            rem -= 24
        c += U64(length)
        # Tail switch fall-through, vectorized: the 23-case switch adds
        # tail bytes 0..7 to a, 8..15 to b, 16..22 to c<<8 — i.e. one
        # little-endian pack per lane (c's low byte reserved for the
        # length).  Zero-pad each lane to 8 bytes and pack once.
        if rem:
            tail = keys[:, pos:]
            if rem >= 8:
                a += _le64(tail[:, 0:8])
            else:
                a += _le64_pad(tail[:, 0:rem])
            if rem > 8:
                if rem >= 16:
                    b += _le64(tail[:, 8:16])
                else:
                    b += _le64_pad(tail[:, 8:rem])
            if rem > 16:
                c += _le64_pad(tail[:, 16:rem]) << U64(8)
        a, b, c = _mix64(a, b, c)
    return c


def hash5_matrix(keys: np.ndarray, seed: int) -> np.ndarray:
    """facs ``hash5``: hash3 masked to 36 bits (facs/lookup8.c:548-554)."""
    return hash3_matrix(keys, seed) & _MASK36


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
    arr = np.asarray(values)
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
    return hash_strings_batch(list(values), seed)


def raw_key_matrices(values):
    """(indices, (n, L) uint8 matrix) pairs for a raw key column —
    THE single build/probe encoding for raw Bloom keys, shared by the
    sketch builder (``SketchSpec.update``) and every prober
    (``ops/joins.bloom_key_filter``): int64-kind columns become
    8-byte little-endian keys, strings become ascii-lowercased
    length-grouped byte matrices.  Build and probe MUST go through
    this one function — independent copies that drift would turn
    Bloom's zero-false-negative guarantee into silent row loss.
    """
    vals = values.to_numpy() if hasattr(values, "to_numpy") \
        else np.asarray(values)
    if vals.dtype.kind in "iuf":
        yield (np.arange(len(vals)),
               int64_key_matrix(vals.astype(np.int64)))
    else:
        enc = [ascii_lower(("" if v is None else str(v)).encode("utf-8"))
               for v in vals]
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
