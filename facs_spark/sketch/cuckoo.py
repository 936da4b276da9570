"""Cuckoo filter (Fan, Andersen, Kaminsky & Mitzenmacher, CoNEXT
2014) — membership with deletion at sub-Bloom space.

The q84 counting Bloom (`cbf.py`) buys deletion by widening every bit
to a uint16 counter — 16× a plain Bloom.  A cuckoo filter buys the
same revocation primitive the other way: store one small FINGERPRINT
per key in a 2-choice cuckoo hash table, so deletion is "remove the
fingerprint from one of its two buckets" and space is ~f/α bits per
key (α ≈ 0.95 achievable at 4 slots/bucket) — *below* an equal-FPP
Bloom once f ≥ 11 bits, and with the same no-false-negative contract
for kept keys.

Partial-key cuckoo hashing makes deletion and relocation possible
without the original key: bucket pair is ``i1 = h(x)`` and
``i2 = i1 XOR h'(fp(x))``, an involution — EITHER bucket index plus
the fingerprint recovers the other.  That same identity is what makes
the filter mergeable: every stored fingerprint's candidate pair is
reconstructible from where it sits, so ``merge`` re-inserts the other
filter's fingerprints slot-by-slot.  Unlike the OR/add merges of
Bloom/CBF this can FAIL when the union overflows table capacity —
the honest cuckoo trade-off (published as such) — so partials must be
sized for the union (``create(capacity=...)``), exactly like sizing a
Bloom's m for the full corpus; an overfull merge raises rather than
silently degrading.

False-positive rate ≤ 2b/2^f (b slots/bucket, f fingerprint bits);
``create``'s default f=16 gives ~1.2e-4, and f=32 reaches the ~1e-9
regime q92's oracle-exact gate uses (same EXACT_E trick as q02/q84).
Probes are fully vectorized (two gathers + compare); inserts walk a
deterministic seeded kick sequence so a build is reproducible
bit-for-bit.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, pack_counters, unframe, unpack_counters
from .hashing import key_hash_batch, splitmix64

_MAGIC = b"FSCK"
_HDR = struct.Struct("<QIIQQB")  # m, b, fbits, seed, inserts, full
_MAX_KICKS = 500


def _swap_first(row: np.ndarray, want, put) -> bool:
    """Overwrite the bucket's first slot holding ``want`` with
    ``put`` (0 == empty: insert is want=0, delete is put=0)."""
    hit = row == want
    if hit.any():
        row[hit.argmax()] = put
        return True
    return False


@dataclass
class CuckooFilter:
    """m buckets × b slots of f-bit fingerprints (stored uint32,
    0 == empty); two-choice insert with a bounded, seeded kick walk.

    m: bucket count, POWER OF TWO; b: slots per bucket; fbits:
    fingerprint bits (1..32); seed: pins the kick sequence so builds
    and merges are deterministic.
    """

    m: int = 1 << 16
    b: int = 4
    fbits: int = 16
    seed: int = 0
    inserts: int = 0      # fingerprints currently stored
    full: bool = False    # an insert or merge failed (filter at capacity)
    table: np.ndarray = field(default=None, repr=False)  # (m, b) uint32

    MAGIC = _MAGIC

    @staticmethod
    def buckets_for(capacity: int, b: int = 4, load: float = 0.84) -> int:
        """Power-of-two bucket count holding ``capacity`` keys at
        target load factor (0.84 default leaves kick headroom below
        the 0.95 feasibility ceiling of b=4 tables)."""
        need = max(1, int(capacity / (b * load)))
        return 1 << max(1, (need - 1).bit_length())

    @classmethod
    def create(cls, capacity: int, fbits: int = 16, b: int = 4,
               load: float = 0.84, seed: int = 0) -> "CuckooFilter":
        """Size for ``capacity`` keys (size for the UNION when
        partials will merge)."""
        return cls(m=cls.buckets_for(capacity, b, load), b=b,
                   fbits=fbits, seed=seed)

    def __post_init__(self):
        if self.m & (self.m - 1) or self.m <= 0:
            raise ValueError("m must be a power of two")
        if not 1 <= self.fbits <= 32:
            raise ValueError("fbits must be in 1..32")
        if self.table is None:
            self.table = np.zeros((self.m, self.b), dtype=np.uint32)
        elif self.table.shape != (self.m, self.b):
            raise ValueError("table shape mismatch")

    # -- hashing -----------------------------------------------------
    def _fp_and_i1(self, values) -> tuple:
        h = key_hash_batch(values)
        with np.errstate(over="ignore"):
            fh = splitmix64(h ^ np.uint64(0xC2B2AE3D27D4EB4F))
        # fingerprint from an independent remix; 0 is reserved for
        # empty, so collapse 0 -> 1 (costs one codepoint of range)
        fp = (fh & np.uint64((1 << self.fbits) - 1)).astype(np.uint32)
        fp = np.where(fp == 0, np.uint32(1), fp)
        i1 = (h & np.uint64(self.m - 1)).astype(np.int64)
        return fp, i1

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """The partner bucket: i XOR h'(fp) — an involution, so
        alt(alt(i)) == i and either resident bucket recovers the
        other."""
        with np.errstate(over="ignore"):
            fh = splitmix64(fp.astype(np.uint64)
                            ^ np.uint64(self.seed & 0xFFFFFFFFFFFFFFFF))
        return (np.asarray(i, np.uint64) ^ (fh & np.uint64(self.m - 1))
                ).astype(np.int64)

    # -- insert ------------------------------------------------------
    def _insert_fp(self, fp: int, i1: int, i2: int) -> bool:
        if _swap_first(self.table[i1], 0, fp) \
                or _swap_first(self.table[i2], 0, fp):
            return True
        # kick walk: deterministic victim choice from a counter-seeded
        # splitmix stream, so identical inputs rebuild identical tables
        i, cur = int(i2), np.uint32(fp)
        for t in range(_MAX_KICKS):
            mix = ((self.seed << 32) ^ (i << 10) ^ (int(cur) << 1)
                   ^ t) & 0xFFFFFFFFFFFFFFFF
            with np.errstate(over="ignore"):
                r = int(splitmix64(np.array([mix], dtype=np.uint64))[0])
            s = r % self.b
            cur, self.table[i, s] = self.table[i, s], cur
            i = int(self._alt(np.array([i]), np.array([cur]))[0])
            if _swap_first(self.table[i], 0, cur):
                return True
        self.full = True
        return False

    def add_batch(self, values) -> None:
        """Insert keys (duplicates each occupy a slot, as published —
        delete removes one copy per call).  Raises if the table is at
        capacity: a membership filter that silently drops keys would
        break the no-false-negative contract."""
        if len(values) == 0:
            return
        fp, i1 = self._fp_and_i1(values)
        i2 = self._alt(i1, fp)
        for j in range(fp.size):
            if not self._insert_fp(int(fp[j]), int(i1[j]), int(i2[j])):
                raise ValueError(
                    "cuckoo filter full (size for the union before "
                    "building partials)")
            self.inserts += 1

    update_batch = add_batch  # SketchSpec contract

    # -- delete ------------------------------------------------------
    def remove_batch(self, values) -> np.ndarray:
        """Remove one stored copy per key; returns a boolean array of
        which removals found their fingerprint (False == the classic
        caller-contract violation, observable not silent)."""
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_i1(values)
        i2 = self._alt(i1, fp)
        out = np.zeros(fp.size, dtype=bool)
        for j in range(fp.size):
            for i in (int(i1[j]), int(i2[j])):
                if _swap_first(self.table[i], fp[j], 0):
                    self.inserts -= 1
                    out[j] = True
                    break
        return out

    # -- query -------------------------------------------------------
    def contains_batch(self, values) -> np.ndarray:
        """Vectorized membership: two bucket gathers + compare."""
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_i1(values)
        i2 = self._alt(i1, fp)
        fpc = fp[:, None]
        return ((self.table[i1] == fpc).any(axis=1)
                | (self.table[i2] == fpc).any(axis=1))

    def contains(self, value) -> bool:
        return bool(self.contains_batch([value])[0])

    def fpp(self) -> float:
        """Upper bound on the false-positive probability: 2b/2^f."""
        return min(1.0, 2.0 * self.b / float(1 << self.fbits))

    @property
    def load_factor(self) -> float:
        return self.inserts / float(self.m * self.b)

    # -- merge -------------------------------------------------------
    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Re-insert every fingerprint stored in ``other`` — its
        candidate pair is (j, alt(j, fp)) by the partial-key identity.
        Raises when the union exceeds capacity (the documented cuckoo
        merge failure mode; size partials for the union)."""
        if (self.m, self.b, self.fbits, self.seed) != \
                (other.m, other.b, other.fbits, other.seed):
            raise ValueError(
                "cannot merge cuckoo filters with different params")
        occ = np.argwhere(other.table != 0)
        for j, s in occ:
            fp = int(other.table[j, s])
            alt = int(self._alt(np.array([j]), np.array([fp],
                                                       np.uint32))[0])
            if not self._insert_fp(fp, int(j), alt):
                raise ValueError(
                    "cuckoo merge overflow (size for the union)")
            self.inserts += 1
        self.full = self.full or other.full
        return self

    # -- wire --------------------------------------------------------
    # header | table, dense (v1) or sparse (v2) by occupancy — see
    # ``base.pack_counters``; a filter sized for 1M keys but holding
    # a few ships only its occupied slots.
    def to_bytes(self) -> bytes:
        version, body = pack_counters(self.table)
        return frame(_MAGIC, version,
                     _HDR.pack(self.m, self.b, self.fbits, self.seed,
                               self.inserts, int(self.full))
                     + body)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        version, payload = unframe(_MAGIC, blob)
        m, b, fbits, seed, inserts, full = _HDR.unpack_from(payload)
        table = unpack_counters(version, payload, _HDR.size, np.uint32,
                                (m, b))
        return cls(m=m, b=b, fbits=fbits, seed=seed, inserts=inserts,
                   full=bool(full), table=table)
