"""Theta (KMV) sketch — distinct counting with SET-OPERATION algebra.

The K-minimum-values / theta sketch (Beyer et al., SIGMOD 2007;
Dasgupta et al., "Theta sketch framework", 2016 — both public).
State: a sampling threshold θ (``theta_bits``/2⁶⁴, 1.0 = exact mode)
plus every retained distinct hash STRICTLY below θ; overflowing ``k``
retained hashes lowers θ to the (k+1)-th smallest.  Estimate =
retained/θ (the unbiased k/U₍k+1₎ KMV form), exact below k distincts.
Unlike HLL, theta sketches support ESTIMATES OF SET EXPRESSIONS:

* union: merge = filter both sides to min(θa, θb), keep k smallest;
* intersection: |A∩B| ≈ |{h ∈ Sa ∩ Sb : h < min(θa, θb)}| / min(θa, θb)

with relative standard error ≈ 1/√(k−1) for the union/estimate and a
per-call additive bound for intersections (``d2_bound`` — error grows
as the intersection shrinks relative to the union, which is the
honest cost every sketch pays on small intersections).

Why the engine wants it next to HLL: corpus-overlap questions ("how
many urls do crawls A and B share?", "how much of host X is already
in the dedup set?") are intersections — HLL can only
inclusion-exclusion them with error proportional to the UNION.  A
theta sketch answers them directly and stays mergeable (associative,
commutative — any Spark partitioning yields the same estimates;
property-tested like the rest of the family).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, unframe
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSTH"
_VERSION = 1
_HDR = struct.Struct("<IQQ")  # k, theta_bits (0 ⇒ 2^64 exact), n_retained
_FULL64 = float(1 << 64)
_EXACT = 0  # sentinel for theta = 1.0 (2^64 doesn't fit in u64)


@dataclass
class ThetaSketch:
    k: int = 4096
    theta_bits: int = _EXACT  # exclusive threshold; 0 means 2^64 (exact)
    hashes: np.ndarray = field(default=None, repr=False)  # sorted u64 < θ

    MAGIC = _MAGIC

    def __post_init__(self):
        if self.k < 16:
            raise ValueError("k must be ≥ 16")
        if self.hashes is None:
            self.hashes = np.zeros(0, dtype=np.uint64)

    # -- state -------------------------------------------------------
    @property
    def theta(self) -> float:
        return 1.0 if self.theta_bits == _EXACT \
            else self.theta_bits / _FULL64

    @property
    def relative_error(self) -> float:
        """Published RSE ≈ 1/√(k−1) once sampling (θ < 1)."""
        return 1.0 / math.sqrt(self.k - 1)

    def estimate(self) -> float:
        if self.theta_bits == _EXACT:
            return float(self.hashes.size)  # exact below k distincts
        return self.hashes.size / self.theta

    def _trim(self, merged: np.ndarray, theta_bits: int) -> None:
        """Keep hashes < θ; overflowing k lowers θ to the (k+1)-th."""
        if theta_bits != _EXACT:
            merged = merged[merged < np.uint64(theta_bits)]
        if merged.size > self.k:
            theta_bits = int(merged[self.k])
            merged = merged[:self.k]
        self.theta_bits = theta_bits
        self.hashes = merged

    # -- update ------------------------------------------------------
    def update_hashed(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        self._trim(np.unique(np.concatenate([self.hashes, h])),
                   self.theta_bits)

    def update_batch(self, values) -> None:
        self.update_hashed(splitmix64(key_hash_batch(values)[1]))

    # -- algebra -----------------------------------------------------
    def _min_theta_bits(self, other: "ThetaSketch") -> int:
        if self.theta_bits == _EXACT:
            return other.theta_bits
        if other.theta_bits == _EXACT:
            return self.theta_bits
        return min(self.theta_bits, other.theta_bits)

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if self.k != other.k:
            raise ValueError("cannot merge theta sketches with different k")
        out = ThetaSketch(k=self.k)
        out._trim(np.unique(np.concatenate([self.hashes, other.hashes])),
                  self._min_theta_bits(other))
        return out

    def _common_below_min_theta(self, other: "ThetaSketch"):
        th_bits = self._min_theta_bits(other)
        common = np.intersect1d(self.hashes, other.hashes,
                                assume_unique=True)
        if th_bits != _EXACT:
            common = common[common < np.uint64(th_bits)]
        th = 1.0 if th_bits == _EXACT else th_bits / _FULL64
        return common, th

    def intersect_estimate(self, other: "ThetaSketch") -> float:
        """|A∩B| estimate: common retained hashes below min(θa, θb),
        scaled by that threshold."""
        common, th = self._common_below_min_theta(other)
        return common.size / th

    def difference_estimate(self, other: "ThetaSketch") -> float:
        """|A\\B| estimate (the Datasketches a-not-b, completing the
        union/intersect/difference algebra): A's retained hashes
        below min(θa, θb) that B does NOT retain, scaled by that
        threshold.  Sound because any h < min θ is retained by BOTH
        sketches iff the underlying key is in both sets — B keeps
        every hash below its own (≥ min) θ.  Exact identity with the
        other estimators: difference + intersection = A's estimate at
        the shared threshold (asserted in tests)."""
        th_bits = self._min_theta_bits(other)
        mine = self.hashes
        if th_bits != _EXACT:
            mine = mine[mine < np.uint64(th_bits)]
        diff = np.setdiff1d(mine, other.hashes, assume_unique=True)
        th = 1.0 if th_bits == _EXACT else th_bits / _FULL64
        return diff.size / th

    def difference_bound(self, other: "ThetaSketch",
                         sigmas: float = 3.0) -> float:
        """Additive ±bound on ``difference_estimate`` at ``sigmas``
        standard deviations (same binomial-at-rate-θ argument as
        ``d2_bound``); 0 when both sides are exact."""
        th_bits = self._min_theta_bits(other)
        th = 1.0 if th_bits == _EXACT else th_bits / _FULL64
        if th == 1.0:
            return 0.0
        d = self.difference_estimate(other) * th
        return sigmas * max(math.sqrt(d), 1.0) / th

    def d2_bound(self, other: "ThetaSketch", sigmas: float = 3.0) -> float:
        """Additive ±bound on ``intersect_estimate`` at ``sigmas``
        standard deviations: the common count is ~binomial at rate θ,
        sd ≈ sqrt(c)/θ, floored at one sample's worth (1/θ).  In
        exact mode (both sides below k, θ = 1) the intersection is
        known with zero error, so the bound is 0."""
        common, th = self._common_below_min_theta(other)
        if th == 1.0:
            return 0.0  # both sides exact ⇒ the intersection is exact
        return sigmas * max(math.sqrt(float(common.size)), 1.0) / th

    # -- io ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        return frame(_MAGIC, _VERSION,
                     _HDR.pack(self.k, self.theta_bits, self.hashes.size)
                     + self.hashes.tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ThetaSketch":
        _, payload = unframe(_MAGIC, blob)
        k, theta_bits, n = _HDR.unpack_from(payload)
        hashes = np.frombuffer(payload, dtype=np.uint64,
                               offset=_HDR.size, count=n).copy()
        return cls(k=k, theta_bits=theta_bits, hashes=hashes)
