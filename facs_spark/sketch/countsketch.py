"""Count-Sketch (Charikar, Chen & Farach-Colton, ICALP 2002).

UNBIASED per-item frequency estimates in ``r × c`` signed counters —
the two-sided complement of the count-min sketch (`cms.py`).  CMS
only ever OVER-estimates (bias +ε·N, one-sided), which is the right
gate for "is this k-gram frequent enough to keep".  Count-Sketch's
estimates are unbiased with SYMMETRIC error ±ε·sqrt(F2), which is
what subtraction-shaped questions need: frequency deltas between two
crawls, residual counts after removing a known-heavy prefix, any
estimate that feeds a difference where one-sided bias compounds.

Each row ``j`` hashes item ``x`` to bucket ``b_j(x)`` with sign
``s_j(x) ∈ {±1}`` and keeps ``z[j][b] = Σ s_j(x)·f_x``; the point
query is the median over rows of ``s_j(x)·z[j][b_j(x)]``.  Per row
``E = f_x`` exactly and ``Var ≤ F2/c``, so (CCF Lemma 4) with
``c = 3/ε²`` buckets each row errs by more than ``ε·sqrt(F2)`` with
probability ≤ 1/3 and the median over ``r`` rows fails with
probability ≤ exp(−r/12).  The same counters give the AMS F2
estimate for free (each row's ``Σ z²`` is a c-bucket tug-of-war,
`ams.py`), which is how ``error_bound()`` stays self-contained.

Merge is element-wise addition (``z`` is linear in the multiset;
seeds pinned by the spec), so per-partition partials tree-combine to
exactly the single-pass sketch — the same mergeability contract as
every other sketch in this package (`ops/sketch_agg.py`).

Counterpart of the reference's exact global counters
(`facs/query.c` F_set reduction) for the per-item case the reference
answers only by exact hash tables.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSCS"
_HDR = struct.Struct("<IIQQ")  # r, c, seed, total


@dataclass
class CountSketch:
    """Mergeable unbiased frequency estimator.

    r: median rows (failure prob exp(-r/12) per query);
    c: buckets per row, POWER OF TWO (error ~ sqrt(3·F2/c));
    seed: pins the bucket/sign hashes so independently-built
    partials merge coherently.
    """

    r: int = 5
    c: int = 2048
    seed: int = 0
    total: int = 0
    z: np.ndarray = field(default=None, repr=False)  # (r, c) int64

    MAGIC = _MAGIC

    def __post_init__(self):
        if self.c & (self.c - 1) or self.c <= 0:
            raise ValueError("c must be a power of two")
        if self.z is None:
            self.z = np.zeros((self.r, self.c), dtype=np.int64)
        elif self.z.shape != (self.r, self.c):
            raise ValueError("counter shape mismatch")
        base = np.arange(1, self.r + 1, dtype=np.uint64)
        with np.errstate(over="ignore"):
            self._rseeds = splitmix64(
                base * np.uint64(0x9E3779B97F4A7C15)
                ^ np.uint64(self.seed & 0xFFFFFFFFFFFFFFFF))

    def _row_mix(self, hu: np.ndarray, j: int) -> np.ndarray:
        """Per-row remix of the item hashes: low bits pick the
        bucket, the top bit the sign — one splitmix64 per (row,
        item), same construction as the CMS/AMS hashes."""
        with np.errstate(over="ignore"):
            return splitmix64(hu ^ self._rseeds[j])

    # -- update ------------------------------------------------------
    def update_batch(self, values, weights=None) -> None:
        if len(values) == 0:
            return
        h = key_hash_batch(values)
        if weights is None:
            w = np.ones(h.size, dtype=np.int64)
        else:
            w = np.asarray(weights, dtype=np.int64)
        self.total += int(w.sum())
        # z is linear in the multiset: collapse the batch to unique
        # hashes with net weights (web tokens repeat heavily), then
        # one remix + one scatter-add per row — no per-item python
        hu, inv = np.unique(h, return_inverse=True)
        wu = np.bincount(inv, weights=w.astype(np.float64)
                         ).astype(np.int64)
        mask = np.uint64(self.c - 1)
        for j in range(self.r):
            hj = self._row_mix(hu, j)
            b = (hj & mask).astype(np.int64)
            s = ((hj >> np.uint64(63)).astype(np.int64) << 1) - 1
            np.add.at(self.z[j], b, s * wu)

    # -- query -------------------------------------------------------
    def estimate_batch(self, values) -> np.ndarray:
        """Unbiased frequency estimates: median over rows of
        sign·counter at each item's bucket."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.float64)
        hu = key_hash_batch(values)
        mask = np.uint64(self.c - 1)
        per_row = np.empty((self.r, hu.size), dtype=np.float64)
        for j in range(self.r):
            hj = self._row_mix(hu, j)
            b = (hj & mask).astype(np.int64)
            s = ((hj >> np.uint64(63)).astype(np.int64) << 1) - 1
            per_row[j] = s * self.z[j, b]
        return np.median(per_row, axis=0)

    def estimate(self, value) -> float:
        return float(self.estimate_batch([value])[0])

    def f2_estimate(self) -> float:
        """Median over rows of ``Σ z²`` — each row is a c-bucket AMS
        tug-of-war (`ams.py`), so the counters price their own noise."""
        sq = (self.z.astype(np.float64) ** 2).sum(axis=1)
        return float(np.median(sq))

    def error_bound(self) -> float:
        """Additive ±bound on any single estimate: ε·sqrt(F2) with
        ε = sqrt(3/c) (CCF Lemma 4 at its stated 1/3-per-row rate),
        failure probability ≤ exp(−r/12) per query.  F2 comes from
        the sketch itself, inflated by its own AMS relative error
        sqrt(16/c) so the gate stays a published bound."""
        f2 = self.f2_estimate() * (1.0 + math.sqrt(16.0 / self.c))
        return math.sqrt(3.0 * max(f2, 0.0) / self.c)

    # -- merge -------------------------------------------------------
    def merge(self, other: "CountSketch") -> "CountSketch":
        if (self.r, self.c, self.seed) != (other.r, other.c, other.seed):
            raise ValueError(
                "cannot merge count sketches with different params")
        self.z += other.z
        self.total += other.total
        return self

    def subtract(self, other: "CountSketch") -> "CountSketch":
        """Sketch of the SIGNED difference stream a − b — the payoff
        of linearity that one-sided CMS cannot offer: ``z_a − z_b``
        IS the Count-Sketch of the multiset with weights
        ``f_a(x) − f_b(x)``, so ``estimate`` returns unbiased
        per-item deltas and ``error_bound()`` self-prices from
        F2(a−b) — which for two similar corpora is far SMALLER than
        either side's F2, i.e. the difference is estimated tighter
        than the inputs."""
        if (self.r, self.c, self.seed) != (other.r, other.c, other.seed):
            raise ValueError(
                "cannot subtract count sketches with different params")
        self.z -= other.z
        self.total -= other.total
        return self

    # -- wire --------------------------------------------------------
    # header | counters, dense (v1) or sparse (v2) by density — see
    # ``base.pack_counters``.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.z)
        return frame(_MAGIC, version,
                     _HDR.pack(self.r, self.c, self.seed, self.total) + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountSketch":
        version, payload = unframe(_MAGIC, blob)
        r, c, seed, total = _HDR.unpack_from(payload)
        z = unpack_counters(version, payload, _HDR.size, np.int64, (r, c))
        return cls(r=r, c=c, seed=seed, total=total, z=z)
