"""HyperLogLog distinct-count sketch (dense registers, mergeable).

Standard Flajolet–Fusy–Gandouet–Meunier HLL (AofA 2007, public) with
the usual small-range linear-counting correction.  Registers merge by
element-wise max — associative and commutative, so any Spark
partitioning yields the same sketch.  Published error bound:
relative standard error ≈ 1.04/√m for m = 2^p registers.

Cross-checked in tests against Spark's built-in
``approx_count_distinct`` (HLL++) and exact ``countDistinct``.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSHL"
_HDR = struct.Struct("<B")


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@dataclass
class HyperLogLog:
    p: int = 14  # 2^14 = 16384 registers → RSE ≈ 0.81%
    registers: np.ndarray = field(default=None, repr=False)

    MAGIC = _MAGIC

    def __post_init__(self):
        if not (4 <= self.p <= 18):
            raise ValueError("p must be in [4, 18]")
        m = 1 << self.p
        if self.registers is None:
            self.registers = np.zeros(m, dtype=np.uint8)
        elif self.registers.size != m:
            raise ValueError("register array size mismatch")

    @property
    def m(self) -> int:
        return 1 << self.p

    @property
    def relative_error(self) -> float:
        """Published RSE bound 1.04/sqrt(m)."""
        return 1.04 / math.sqrt(self.m)

    # -- update ------------------------------------------------------
    def update_hashed(self, h: np.ndarray) -> None:
        """Feed pre-hashed uniform uint64 values (vectorized)."""
        if h.size == 0:
            return
        p64 = np.uint64(64 - self.p)
        idx = (h >> p64).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining bits, left-aligned
        # rank = leading zeros of w + 1, capped at 64 - p + 1
        rank = np.full(h.size, 64 - self.p + 1, dtype=np.uint8)
        nz = w != 0
        if nz.any():
            # leading zeros via float64 exponent trick is unsafe at 64
            # bits; use log2 on the top 53 bits instead: position of
            # the highest set bit b → rank = 64 - b.
            wv = w[nz]
            hi = (wv >> np.uint64(11)).astype(np.float64)  # 53-bit safe
            lo_only = hi == 0
            b = np.empty(wv.size, dtype=np.int64)
            b[~lo_only] = 11 + np.floor(np.log2(hi[~lo_only])).astype(np.int64)
            if lo_only.any():
                lo = (wv[lo_only] & np.uint64(0x7FF)).astype(np.float64)
                b[lo_only] = np.floor(np.log2(lo)).astype(np.int64)
            rank[nz] = (64 - b).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)

    def update_batch(self, values) -> None:
        """Hash + update a batch of ints, floats, or strings (the
        shared ``key_hash_batch`` dispatch)."""
        self.update_hashed(splitmix64(key_hash_batch(values)))

    # -- estimate ----------------------------------------------------
    def estimate(self) -> float:
        m = self.m
        regs = self.registers.astype(np.float64)
        e = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros:
                return m * math.log(m / zeros)  # linear counting
        return float(e)

    # -- merge -------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.p != other.p:
            raise ValueError("cannot merge HLLs with different precision")
        return HyperLogLog(p=self.p,
                           registers=np.maximum(self.registers, other.registers))

    # -- io ----------------------------------------------------------
    #
    # p | registers, dense (v1, 16 KiB at p=14 regardless of
    # cardinality) or sparse (v2, 5 bytes per NONZERO register) by
    # density — see ``base.pack_counters``.
    #
    # Why it matters at scale: grouped sketches shuffle one partial
    # blob per (group, partition).  With zipf-skewed group keys (hosts,
    # langs) most partials see a handful of values — dense blobs make
    # the shuffle O(groups·partitions·m); sparse makes the common case
    # O(observed registers), a 100-3000× blob reduction for small
    # groups (tested), while hot groups stay dense.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.registers)
        return frame(_MAGIC, version, _HDR.pack(self.p) + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperLogLog":
        version, payload = unframe(_MAGIC, blob)
        (p,) = _HDR.unpack_from(payload)
        return cls(p=p, registers=unpack_counters(
            version, payload, _HDR.size, np.uint8, 1 << p))
