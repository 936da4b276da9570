"""AMS "tug-of-war" F2 sketch (Alon, Matias & Szegedy, STOC 1996).

Estimates the second frequency moment ``F2 = Σ f_x²`` of a stream —
the self-join size, the quantity that prices every equi-join and
skew decision at 100-TB scale — in ``r × c`` signed counters.

Each counter ``z_ij = Σ_x s_ij(x) · f_x`` where ``s_ij(x) ∈ {±1}``
is a (4-wise-independent-in-practice) sign hash derived by remixing
the item's 64-bit key hash with a per-counter splitmix64 seed — the
same construction as the CMS row hashes (`cms.py`).  Then ``z_ij²``
is an unbiased estimator of F2 with ``Var ≤ 2·F2²``; averaging ``c``
counters divides the variance by ``c`` and the median over ``r``
rows gives the standard exponential failure-probability boost:

    P(|est − F2| > ε·F2) ≤ 2^(−r/2)   for  c = 16/ε²  (AMS Thm 2.2)

Merge is element-wise addition of the counter matrix (same seeds on
every partition — the spec pins the seed), so partial sketches built
per Spark partition tree-combine to exactly the single-pass sketch:
``z`` is linear in the input.  Distributed queries assert the
published bound against an exact verifier (same discipline as the
CMS/HLL queries, `queries.py` q05/q06).

Counterpart of the reference's global exact counters
(`facs/query.c` F_set reduction) generalized to a second-moment
summary the reference cannot compute in bounded memory.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSAM"
_HDR = struct.Struct("<IIQQ")  # r, c, seed, total


@dataclass
class AmsF2:
    """Mergeable F2 (self-join size) estimator.

    r: median rows (failure prob 2^(-r/2));  c: mean columns
    (relative error ~ sqrt(16/c));  seed: pins the sign hashes so
    independently-built partials merge coherently.
    """

    r: int = 5
    c: int = 256
    seed: int = 0
    total: int = 0
    z: np.ndarray = field(default=None, repr=False)  # (r*c,) int64

    MAGIC = _MAGIC

    def __post_init__(self):
        if self.z is None:
            self.z = np.zeros(self.r * self.c, dtype=np.int64)
        elif self.z.shape != (self.r * self.c,):
            raise ValueError("counter shape mismatch")
        # one splitmix64-derived 64-bit seed per counter, from self.seed
        base = np.arange(1, self.r * self.c + 1, dtype=np.uint64)
        with np.errstate(over="ignore"):
            self._cseeds = splitmix64(
                base * np.uint64(0x9E3779B97F4A7C15)
                ^ np.uint64(self.seed & 0xFFFFFFFFFFFFFFFF))

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
        # z is linear in the multiset, so collapse the batch to unique
        # hashes with net weights first (tokens repeat heavily), then
        # mix (counters × uniques) in one broadcast per 128-counter
        # block — bounded scratch, no per-item python
        hu, inv = np.unique(h, return_inverse=True)
        wu = np.bincount(inv, weights=w.astype(np.float64)
                         ).astype(np.int64)
        rc = self.r * self.c
        for lo in range(0, rc, 128):
            hi = min(lo + 128, rc)
            with np.errstate(over="ignore"):
                hj = splitmix64(hu[None, :] ^ self._cseeds[lo:hi, None])
            signs = ((hj & np.uint64(1)).astype(np.int64) << 1) - 1
            self.z[lo:hi] += signs @ wu

    # -- query -------------------------------------------------------
    def estimate(self) -> float:
        """Median over rows of the mean over columns of z²."""
        sq = (self.z.astype(np.float64) ** 2).reshape(self.r, self.c)
        return float(np.median(sq.mean(axis=1)))

    def error_bound(self) -> float:
        """Relative ε with failure prob ≤ 2^(−r/2): ε = sqrt(16/c)."""
        return math.sqrt(16.0 / self.c)

    def inner_product(self, other: "AmsF2") -> float:
        """Join-size estimate ⟨f_self, f_other⟩ = Σ_x f_a(x)·f_b(x)
        WITHOUT executing the join (AMS §3.3): E[z_a·z_b] is the
        inner product when both sketches share the sign hashes, with
        |est − ⟨f_a,f_b⟩| ≤ ε·sqrt(F2(a)·F2(b)), ε = sqrt(16/c) —
        one streaming pass per side prices an equi-join before any
        shuffle is scheduled."""
        if (self.r, self.c, self.seed) != (other.r, other.c, other.seed):
            raise ValueError("inner_product needs identical AMS params")
        prod = (self.z.astype(np.float64)
                * other.z.astype(np.float64)).reshape(self.r, self.c)
        return float(np.median(prod.mean(axis=1)))

    def inner_product_bound(self, other: "AmsF2") -> float:
        """ε·sqrt(F2a·F2b), F2s from the sketches themselves (each
        inflated by its own ε so the gate stays a published bound)."""
        eps = self.error_bound()
        f2a = self.estimate() * (1.0 + eps)
        f2b = other.estimate() * (1.0 + eps)
        return eps * math.sqrt(max(f2a, 0.0) * max(f2b, 0.0))

    # -- merge -------------------------------------------------------
    def merge(self, other: "AmsF2") -> "AmsF2":
        if (self.r, self.c, self.seed) != (other.r, other.c, other.seed):
            raise ValueError("cannot merge AMS sketches with different params")
        self.z += other.z
        self.total += other.total
        return self

    # -- wire --------------------------------------------------------
    # header | counters, dense (v1) or sparse (v2) by density — see
    # ``base.pack_counters``.  Every key moves every counter, so in
    # practice only empty partials ship sparse.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.z)
        return frame(_MAGIC, version,
                     _HDR.pack(self.r, self.c, self.seed, self.total) + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "AmsF2":
        version, payload = unframe(_MAGIC, blob)
        r, c, seed, total = _HDR.unpack_from(payload)
        z = unpack_counters(version, payload, _HDR.size, np.int64, r * c)
        return cls(r=r, c=c, seed=seed, total=total, z=z)
