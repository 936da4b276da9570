"""Count–min sketch (Cormode & Muthukrishnan, J. Algorithms 2005).

``d = ceil(ln(1/δ))`` rows × ``w = ceil(e/ε)`` counters.  Point
estimates overcount only: ``est ≥ true`` always, and
``est ≤ true + ε·N`` with probability ≥ 1-δ (N = total weight).
Merge is element-wise addition — associative/commutative, so partials
built per Spark partition combine to the same sketch as a single-pass
build.

Row hashes derive from one 64-bit key hash re-mixed per row with
splitmix64 (pairwise-independence in practice; same construction as
common public implementations).  Cross-checked in tests against exact
``groupBy().count()`` and Spark's ``count_min_sketch`` built-in.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64, spread

_MAGIC = b"FSCM"
_HDR = struct.Struct("<IIQ")  # d, w, total


@dataclass
class CountMinSketch:
    epsilon: float = 0.0001   # additive error ≤ ε·N
    delta: float = 0.01       # failure probability
    d: int = field(default=None)
    w: int = field(default=None)
    total: int = 0
    table: np.ndarray = field(default=None, repr=False)  # (d, w) int64

    MAGIC = _MAGIC

    def __post_init__(self):
        if self.d is None:
            self.d = max(1, math.ceil(math.log(1.0 / self.delta)))
        if self.w is None:
            self.w = max(1, math.ceil(math.e / self.epsilon))
        if self.table is None:
            self.table = np.zeros((self.d, self.w), dtype=np.int64)
        elif self.table.shape != (self.d, self.w):
            raise ValueError("table shape mismatch")

    def _row_cols(self, h: np.ndarray, row: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            hr = splitmix64(h ^ np.uint64(0x9E3779B97F4A7C15 * (row + 1) & 0xFFFFFFFFFFFFFFFF))
        return (hr % np.uint64(self.w)).astype(np.int64)

    # -- update ------------------------------------------------------
    def update_batch(self, values, weights=None) -> None:
        idx, h = key_hash_batch(values)
        if weights is None:
            w = np.ones(h.size, dtype=np.int64)
        else:
            w = np.asarray(weights, dtype=np.int64)[idx]
        for row in range(self.d):
            np.add.at(self.table[row], self._row_cols(h, row), w)
        self.total += int(w.sum())

    # -- query -------------------------------------------------------
    def query_batch(self, values) -> np.ndarray:
        """Point estimates (min over rows) for a batch of keys; a row
        with no key reads 0."""
        idx, h = key_hash_batch(values)
        est = np.full(h.size, np.iinfo(np.int64).max, dtype=np.int64)
        for row in range(self.d):
            np.minimum(est, self.table[row, self._row_cols(h, row)], out=est)
        return spread(len(values), idx, est)

    @property
    def error_bound(self) -> float:
        """Additive bound ε·N (published, holds w.p. ≥ 1-δ per query)."""
        return (math.e / self.w) * self.total

    # -- merge -------------------------------------------------------
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("cannot merge CMS with different geometry")
        return CountMinSketch(epsilon=self.epsilon, delta=self.delta,
                              d=self.d, w=self.w,
                              total=self.total + other.total,
                              table=self.table + other.table)

    # -- io ----------------------------------------------------------
    # d, w, total | table, dense (v1, d·w int64 ≈ 1.1 MB at default
    # ε=1e-4) or sparse (v2, 12 bytes per NONZERO counter) by density
    # — see ``base.pack_counters``.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.table)
        return frame(_MAGIC, version,
                     _HDR.pack(self.d, self.w, self.total) + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        version, payload = unframe(_MAGIC, blob)
        d, w, total = _HDR.unpack_from(payload)
        return cls(d=d, w=w, total=total, table=unpack_counters(
            version, payload, _HDR.size, np.int64, (d, w)))
