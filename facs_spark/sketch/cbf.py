"""Counting Bloom filter (Fan et al., ToN 2000) — membership with
deletion.

The reference can only *remove* reads downstream of a query
(`facs/remove.c:34-96` rewrites the FASTQ minus the contaminated
ids); its Bloom filter itself (`facs/bloom.c`) is insert-only, so
revoking a contaminant means rebuilding the filter from scratch.
This summary replaces each bit with a small counter so deletion is a
decrement — the missing revocation primitive — while keeping the
Bloom contract:

* no false negatives for keys inserted and not removed (as long as
  no counter saturates — tracked and surfaced via ``saturated``);
* false-positive rate ≈ (1 − e^(−kn/m))^k, same as a plain Bloom of
  the same geometry;
* removing a key never deleted is the caller's contract violation
  (classic CBF caveat) — counters floor at 0 and the filter flags
  ``underflowed`` so the violation is observable, not silent.

Counters are uint16 (saturate at 65535; with k ≈ 8 the probability a
counter exceeds even 255 is ~0 for any sane load factor).  Merge is
element-wise saturating addition — associative/commutative, so
per-partition partials tree-combine exactly like the plain Bloom
build (`ops/sketch_agg.py`).  Index derivation mirrors `cms.py`:
one 64-bit key hash remixed per hash function with splitmix64.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSCB"
_HDR = struct.Struct("<QIQBB")  # m, k, inserts, saturated, underflowed

_MAX = np.uint16(65535)


@dataclass
class CountingBloom:
    """m counters, k hash functions; add/remove/contains/merge."""

    m: int = 1 << 20
    k: int = 8
    inserts: int = 0          # net adds − removes (stream weight)
    saturated: bool = False   # a counter hit the uint16 ceiling
    underflowed: bool = False  # a remove hit a zero counter
    counters: np.ndarray = field(default=None, repr=False)  # (m,) uint16

    MAGIC = _MAGIC

    @staticmethod
    def size_for(capacity: int, error_rate: float = 0.0005
                 ) -> tuple[int, int]:
        """Standard sizing (m, k): m = −n·ln(p)/ln(2)², k = m/n·ln(2)."""
        n = max(int(capacity), 1)
        m = max(int(math.ceil(-n * math.log(error_rate)
                              / (math.log(2) ** 2))), 8)
        k = max(int(round(m / n * math.log(2))), 1)
        return m, k

    @classmethod
    def create(cls, capacity: int, error_rate: float = 0.0005
               ) -> "CountingBloom":
        m, k = cls.size_for(capacity, error_rate)
        return cls(m=m, k=k)

    def __post_init__(self):
        if self.counters is None:
            self.counters = np.zeros(self.m, dtype=np.uint16)
        elif self.counters.shape != (self.m,):
            raise ValueError("counter shape mismatch")

    def _idx(self, h: np.ndarray, fn: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            hr = splitmix64(h ^ np.uint64(
                (0x9E3779B97F4A7C15 * (fn + 1)) & 0xFFFFFFFFFFFFFFFF))
        return (hr % np.uint64(self.m)).astype(np.int64)

    # -- update ------------------------------------------------------
    def add_batch(self, values) -> None:
        if len(values) == 0:
            return
        h = key_hash_batch(values)
        # dedupe the batch so one key adds each counter once, however
        # many times it repeats in the batch (multiset-insensitive
        # membership, like the plain Bloom)
        h = np.unique(h)
        wide = self.counters.astype(np.int64)
        for fn in range(self.k):
            np.add.at(wide, self._idx(h, fn), 1)
        if (wide > int(_MAX)).any():
            self.saturated = True
            np.minimum(wide, int(_MAX), out=wide)
        self.counters = wide.astype(np.uint16)
        self.inserts += int(h.size)

    def remove_batch(self, values) -> None:
        if len(values) == 0:
            return
        h = np.unique(key_hash_batch(values))
        wide = self.counters.astype(np.int64)
        for fn in range(self.k):
            np.subtract.at(wide, self._idx(h, fn), 1)
        if (wide < 0).any():
            self.underflowed = True
            np.maximum(wide, 0, out=wide)
        self.counters = wide.astype(np.uint16)
        self.inserts -= int(h.size)

    def update_batch(self, values) -> None:
        """Sketch-protocol alias so SketchSpec's generic feed works."""
        self.add_batch(values)

    # -- query -------------------------------------------------------
    def contains_batch(self, values) -> np.ndarray:
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        h = key_hash_batch(values)
        out = np.ones(h.size, dtype=bool)
        for fn in range(self.k):
            out &= self.counters[self._idx(h, fn)] > 0
            if not out.any():
                break
        return out

    def fpr(self) -> float:
        """Load-factor FPR estimate (1 − e^(−kn/m))^k, n = net inserts."""
        n = max(self.inserts, 0)
        return (1.0 - math.exp(-self.k * n / self.m)) ** self.k

    # -- merge -------------------------------------------------------
    def merge(self, other: "CountingBloom") -> "CountingBloom":
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError("cannot merge CBFs with different geometry")
        wide = self.counters.astype(np.int64) + other.counters.astype(np.int64)
        if (wide > int(_MAX)).any():
            self.saturated = True
            np.minimum(wide, int(_MAX), out=wide)
        self.counters = wide.astype(np.uint16)
        self.inserts += other.inserts
        self.saturated |= other.saturated
        self.underflowed |= other.underflowed
        return self

    # -- wire --------------------------------------------------------
    # header | counters, dense (v1) or sparse (v2) by density — see
    # ``base.pack_counters``.  At SQL sizing (1M keys, p=1e-6) the
    # dense array is 57.5 MB, so a filter over a few keys ships sparse.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.counters)
        return frame(_MAGIC, version,
                     _HDR.pack(self.m, self.k, self.inserts & (2**64 - 1),
                               int(self.saturated), int(self.underflowed))
                     + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountingBloom":
        version, payload = unframe(_MAGIC, blob)
        m, k, inserts, sat, under = _HDR.unpack_from(payload)
        if inserts >= 2 ** 63:
            inserts -= 2 ** 64
        counters = unpack_counters(version, payload, _HDR.size,
                                   np.uint16, m)
        return cls(m=m, k=k, inserts=inserts, saturated=bool(sat),
                   underflowed=bool(under), counters=counters)
