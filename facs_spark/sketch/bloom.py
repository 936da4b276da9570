"""Distributed Bloom filter — the reference engine's core sketch.

Semantics reproduced from the reference (studied, not ported):

* bit layout: bit ``i`` lives at byte ``i >> 3``, mask ``1 << (i & 7)``
  (``facs/bloom.c:163-200`` ``finder``/``set``/``test``);
* per-hash index: ``hash5(key, seed[i], len) % m`` with ``hash5`` =
  lookup8 ``hash3`` masked to 36 bits and m prime
  (``facs/bloom.c:163-168``, ``facs/lookup8.c:548-554``);
* keys are lowercased before hashing on both build and probe sides
  (``facs/bloom.c:111-135``, ``facs/tool.c:128``): column values go
  through ``update_batch`` / ``contains_values``, which share one
  encoding (``hashing.raw_key_matrices``); k-gram callers lowercase
  whole pages in one vectorized pass and use the key-matrix API;
* ``inserts`` counts only *novel* keys — an add that found every bit
  already set does not bump it (``facs/bloom.c:121-135``);
* membership may false-positive, never false-negative.

What the reference does one key at a time in C, ``add_batch`` /
``contains_batch`` do for a whole Arrow batch of fixed-length k-gram
windows in a handful of numpy ops; ``update_batch`` /
``contains_values`` do it for a column of raw values (the sketch
protocol every other sketch implements).  ``merge`` (bitwise OR) is
the associative combine the reference lacks — it is what makes the
build distributable across Spark partitions.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, unframe
from .hashing import (FACS_SEEDS, _MASK36, hash3_lanes, pack_lanes,
                      raw_key_matrices, splitmix64)
from .sizing import BloomStat, bloom_fpr, facs_sizing, standard_sizing

_MAGIC = b"FSBL"
_VERSION = 1
_STAT = struct.Struct("<QIQdIQ")  # m, k, capacity, e, k_mer, inserts
# largest single broadcast blob: JVM byte arrays cap at 2 GB, so a
# filter above 1 GiB ships as banks (SURVEY §4 physical notes)
_BANK_BYTES = 1 << 30

# member memo: a direct-mapped table per key width, indexed by the top
# 16 bits of a key's splitmix tag; (lanes + 1) * 8 bytes per slot, so
# ~1.5 MB at k=15 however many keys a task probes
_MEMO_SLOTS = 1 << 16
_MEMO_SHIFT = np.uint64(64 - 16)

# byte-wise popcount LUT: GiB-scale vectors popcount in one fancy-index
# + sum, no 8× unpackbits blow-up
_POPCOUNT = np.array([bin(i).count("1") for i in range(256)],
                     dtype=np.uint16)


def _runs(lanes: np.ndarray, order: np.ndarray):
    """The keys of ``lanes`` in ``order``, and where each new run of
    equal keys starts."""
    s = lanes.take(order, axis=1)
    new = np.ones(s.shape[1], dtype=bool)
    np.not_equal(s[0, 1:], s[0, :-1], out=new[1:])
    for lane in s[1:]:
        new[1:] |= lane[1:] != lane[:-1]
    return s, new


def _tags(lanes: np.ndarray) -> np.ndarray:
    """Splitmix tag of every key of a ``pack_lanes`` matrix: its lanes
    folded into one word, then mixed (the dedup's sort key and the
    member memo's slot + tag)."""
    n_lanes, n = lanes.shape
    mixed = lanes[0].copy() if n_lanes else np.zeros(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(1, n_lanes):
            mixed ^= lanes[j] * np.uint64(0xC2B2AE3D27D4EB4F + 2 * j - 2)
    return splitmix64(mixed)


@dataclass
class BloomFilter:
    """Mergeable Bloom sketch over fixed-length byte keys."""

    stat: BloomStat
    k_mer: int = 0  # key length this filter was built for (0 = any)
    inserts: int = 0
    vector: np.ndarray = field(default=None, repr=False)  # uint8 bit array
    # key width -> member memo table (``_memo_probe``); not serialized
    _memo: dict = field(default_factory=dict, init=False, repr=False,
                        compare=False)

    MAGIC = _MAGIC

    def __post_init__(self):
        nbytes = (self.stat.elements >> 3) + 1  # m/8+1 (facs/bloom.c:88)
        if self.vector is None:
            self.vector = np.zeros(nbytes, dtype=np.uint8)
        elif self.vector.nbytes != nbytes:
            raise ValueError("vector size does not match stat.elements")

    # -- construction ------------------------------------------------
    @classmethod
    def create(cls, capacity: int, error_rate: float = 0.0005,
               k_mer: int = 0, sizing: str = "facs") -> "BloomFilter":
        """Size a new filter.

        ``error_rate`` default 0.0005 matches the reference CLI code
        path (``facs/build.c:47``; its docs say 0.005 — quirk noted in
        SURVEY §7).  ``sizing``: "facs" = prime 13/9 integer math,
        "standard" = -n·ln p/(ln 2)².
        """
        fn = facs_sizing if sizing == "facs" else standard_sizing
        return cls(stat=fn(capacity, error_rate), k_mer=k_mer)

    # -- hashing -----------------------------------------------------
    def _bits(self, lanes: np.ndarray, width: int, i: int):
        """Byte index and bit mask of every key's seed-``i`` bit."""
        h = hash3_lanes(lanes, width, FACS_SEEDS[i])
        # the reference's 36-bit hash5 mask cannot address filters
        # beyond 2^36 bits (its own scale ceiling); huge filters use
        # the full 64-bit hash3 so every bit stays reachable
        if self.stat.elements <= (1 << 36):
            h &= _MASK36
        m = np.uint64(self.stat.elements)
        idx = h - h // m * m  # == h % m; numpy divides by a scalar ~2x faster
        return ((idx >> np.uint64(3)).astype(np.int64),
                np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))

    @staticmethod
    def _unique_lanes(lanes: np.ndarray, ck: np.ndarray | None = None):
        """Distinct keys of a ``pack_lanes`` matrix + inverse map
        (``ck``: the keys' ``_tags``, when already computed).

        k-gram windows repeat heavily, so hashing only distinct keys
        cuts the hash passes with identical bits.  One value sort (~2x
        faster than an argsort) clusters the keys by the top bits of
        their splitmix tags, each key's position in the low bits; runs
        split where the lanes differ.  A batch in which distinct keys
        share those top bits (they could interleave and miscount
        ``add_batch``'s novel keys) regroups by all 64 bits.
        """
        n_lanes, n = lanes.shape
        if n <= 1 or n_lanes == 0:
            return lanes, None
        if ck is None:
            ck = _tags(lanes)
        shift = np.uint64(n.bit_length())
        packed = ck >> shift << shift
        packed |= np.arange(n, dtype=np.uint64)
        packed.sort()
        top = packed >> shift
        order = (packed & ((np.uint64(1) << shift) - np.uint64(1))).view(np.intp)
        s, new = _runs(lanes, order)
        if (new[1:] & (top[1:] == top[:-1])).any():
            order = np.argsort(ck)
            s, new = _runs(lanes, order)
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.cumsum(new) - 1
        # flatnonzero + take: a boolean mask index is ~3x slower
        return s.take(np.flatnonzero(new), axis=1), inv

    # -- update ------------------------------------------------------
    def add_batch(self, keys: np.ndarray) -> int:
        """Insert an (n, L) uint8 key matrix; returns # novel keys.

        A key is novel iff at least one of its k bit positions was
        unset before this call — matching ``bloom_add``'s
        "ret == 0 ⇒ inserts++" contract (facs/bloom.c:121-135) for
        keys arriving one at a time.  (Within one batch, duplicates
        after the first may still count as non-novel only if they map
        to already-set bits from an earlier vector op — we apply the
        batch seed-by-seed with novelty computed against the pre-call
        state, then OR, which matches the sequential semantics for
        distinct keys.)
        """
        if keys.shape[0] == 0:
            return 0
        lanes, _inv = self._unique_lanes(pack_lanes(keys))
        bits = [self._bits(lanes, keys.shape[1], i)
                for i in range(self.stat.ideal_hashes)]
        novel = np.zeros(lanes.shape[1], dtype=bool)
        for byte_idx, spot in bits:
            novel |= (self.vector[byte_idx] & spot) == 0
        for byte_idx, spot in bits:
            np.bitwise_or.at(self.vector, byte_idx, spot)
        n_novel = int(novel.sum())
        self.inserts += n_novel
        return n_novel

    def update_batch(self, values) -> int:
        """Insert a column of raw values (ints as 8-byte little-endian
        keys, strings ASCII-lowercased; ``raw_key_matrices``); returns
        # novel keys."""
        return sum(self.add_batch(mat) for _idx, mat in
                   raw_key_matrices(values))

    # -- probe -------------------------------------------------------
    def contains_values(self, values) -> np.ndarray:
        """Boolean membership of a column of raw values, through the
        same encoding as ``update_batch`` (a float NaN is never a
        member)."""
        out = np.zeros(len(values), dtype=bool)
        for idx, mat in raw_key_matrices(values):
            out[idx] = self.contains_batch(mat)
        return out

    def contains_batch(self, keys: np.ndarray,
                       cache: dict | None = None) -> np.ndarray:
        """Boolean membership for an (n, L) uint8 key matrix.

        Each key is packed into lanes once; keys the member memo does
        not hold are deduplicated and go through ``_probe``, where
        every hash round probes only the surviving candidates (the
        vectorized analogue of ``bloom_test``'s first-unset-bit return,
        facs/bloom.c:146-157).

        ``cache``: optional cross-batch memo {(L, key lanes): bool}.
        Membership of an immutable filter is deterministic, so
        memoizing is semantics-free; web corpora repeat shingles
        (boilerplate) heavily enough that this removes most hash work.
        """
        width = keys.shape[1]
        if cache is None:
            return self._memo_probe(pack_lanes(keys), width)
        uniq, inv = self._unique_lanes(pack_lanes(keys))
        memo = [(width, r.tobytes()) for r in uniq.T]
        known = [cache.get(key) for key in memo]
        out = np.array(known, dtype=bool)  # None (unknown) -> False
        missing = [i for i, v in enumerate(known) if v is None]
        if missing:
            out[missing] = self._probe(uniq[:, missing], width)
        # evict AFTER this batch's answers are assembled, then
        # repopulate with the current working set
        if len(cache) > 4_000_000:  # bound worker memory
            cache.clear()
        cache.update(zip(memo, out.tolist()))
        return out if inv is None else out[inv]

    def _memo_probe(self, lanes: np.ndarray, width: int) -> np.ndarray:
        """Membership of packed keys: a fixed-size table of keys already
        answered "member" first, then dedup + ``_probe`` for the rest.

        A member takes all k hash rounds, and a task meets the same
        reference k-grams in every slice; the memo answers them with
        one gather per lane, before the dedup sorts them.  Slot = top
        16 bits of the key's splitmix tag; an entry is the tag (``| 1``,
        so an empty slot never matches) and the key's lanes, and a hit
        must equal it on every lane.  Only ``_probe``'s True answers are
        written, one key per slot, the newest winning, so answers are
        exact, and they stay exact under ``add_batch``, which only ever
        sets bits.
        """
        table = self._memo.get(width)
        if table is None:
            table = self._memo[width] = np.zeros(
                (lanes.shape[0] + 1, _MEMO_SLOTS), dtype=np.uint64)
        ck = _tags(lanes)
        slot = (ck >> _MEMO_SHIFT).astype(np.intp)
        out = table[0].take(slot) == (ck | np.uint64(1))
        for j, lane in enumerate(lanes, 1):
            out &= table[j].take(slot) == lane
        miss = np.flatnonzero(~out)
        if miss.size:
            uniq, inv = self._unique_lanes(lanes.take(miss, axis=1),
                                           ck.take(miss))
            found = self._probe(uniq, width)
            if inv is None:
                out[miss], first = found, miss
            else:
                out[miss] = found[inv]
                first = np.empty(found.size, dtype=np.intp)
                first[inv] = miss  # a position of each distinct key
            new = first[found]
            # one write per slot (the last key that maps to it), so an
            # entry never mixes two keys' tag and lanes
            put, last = np.unique(slot[new[::-1]], return_index=True)
            new = new[new.size - 1 - last]
            table[0, put] = ck[new] | np.uint64(1)
            table[1:, put] = lanes[:, new]
        return out

    def _probe(self, lanes: np.ndarray, width: int) -> np.ndarray:
        out = np.zeros(lanes.shape[1], dtype=bool)
        alive = np.arange(lanes.shape[1])
        for i in range(self.stat.ideal_hashes):
            byte_idx, spot = self._bits(lanes, width, i)
            hit = np.flatnonzero(self.vector[byte_idx] & spot)
            alive = alive[hit]
            if alive.size == 0:
                return out
            lanes = lanes.take(hit, axis=1)
        out[alive] = True
        return out

    # -- merge -------------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Associative combine: bitwise OR of bit arrays.

        Requires identical geometry (same m, k, k_mer).  ``inserts``
        becomes an upper bound after merge (novelty across partials is
        unknowable without the exact set) — summed, like the
        reference's MPI counter gather (facs/mpi_bloom.c:206-247).
        """
        if (self.stat.elements, self.stat.ideal_hashes, self.k_mer) != (
                other.stat.elements, other.stat.ideal_hashes, other.k_mer):
            raise ValueError("cannot merge Bloom filters with different geometry")
        merged = BloomFilter(stat=self.stat, k_mer=self.k_mer,
                             inserts=self.inserts + other.inserts,
                             vector=np.bitwise_or(self.vector, other.vector))
        return merged

    # -- io ----------------------------------------------------------
    def to_bytes(self) -> bytes:
        hdr = _STAT.pack(self.stat.elements, self.stat.ideal_hashes,
                         self.stat.capacity, self.stat.e, self.k_mer,
                         self.inserts)
        return frame(_MAGIC, _VERSION, hdr + self.vector.tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        _, payload = unframe(_MAGIC, blob)
        m, k, cap, e, k_mer, inserts = _STAT.unpack_from(payload)
        vec = np.frombuffer(payload, dtype=np.uint8, offset=_STAT.size).copy()
        return cls(stat=BloomStat(m, k, cap, e), k_mer=k_mer,
                   inserts=inserts, vector=vec)

    # -- reference binary-format interop -------------------------------
    # The reference dumps its in-memory struct verbatim: two pointer
    # fields (garbage on disk), inserts u64, bloomstat {elements u64,
    # ideal_hashes i32 + 4 pad, capacity u64, e f64}, k_mer i32, dx
    # i32, mcf f32 + 4 tail pad = 72 bytes on LP64, then the bit
    # vector of (elements>>3)+1 bytes (facs/bloom.c:217-287 write,
    # :289-337 read; struct at facs/bloom.h:42-59).  The bit layout
    # and hashing already match bit-exactly, so interop is pure header
    # translation.
    _FACS_HEADER = struct.Struct("<8x8xQQi4xQdiif4x")

    @classmethod
    def from_facs_bytes(cls, blob: bytes) -> "BloomFilter":
        """Load a filter written by the reference's ``save_bloom``."""
        hdr = cls._FACS_HEADER
        if len(blob) < hdr.size:
            raise ValueError("not a facs .bloom file: too short")
        inserts, elements, k, capacity, e, k_mer, _dx, _mcf = \
            hdr.unpack_from(blob)
        nbytes = (elements >> 3) + 1
        if not (0 < elements and 0 < k <= 64
                and len(blob) >= hdr.size + nbytes):
            raise ValueError("not a facs .bloom file: implausible header")
        if k > len(FACS_SEEDS):
            # the reference's get_rec has no clamp and its bloom_hash
            # would read past seed[20] for such files (undefined
            # behavior we cannot — and should not — reproduce)
            raise ValueError(
                f"facs .bloom file uses {k} hash functions; only "
                f"{len(FACS_SEEDS)} salt seeds exist (the reference "
                f"reads out of bounds for k>20 — unsupported)")
        vec = np.frombuffer(blob, dtype=np.uint8, count=nbytes,
                            offset=hdr.size).copy()
        return cls(stat=BloomStat(elements, k, capacity, e),
                   k_mer=k_mer, inserts=inserts, vector=vec)

    def to_facs_bytes(self) -> bytes:
        """Serialize in the reference's raw-struct layout (pointers
        zeroed; dx = k_mer², mcf = the reference's load-time default 0
        — it recomputes mcf from the CLI tolerance).  The trailing
        ``4·(ideal_hashes+1)`` zero bytes mirror the reference's
        ftruncate size (facs/bloom.c:238) so files byte-count-match."""
        hdr = self._FACS_HEADER.pack(
            self.inserts, self.stat.elements, self.stat.ideal_hashes,
            self.stat.capacity, self.stat.e, self.k_mer,
            self.k_mer * self.k_mer, 0.0)
        tail = b"\x00" * (4 * (self.stat.ideal_hashes + 1))
        return hdr + self.vector.tobytes() + tail

    @classmethod
    def from_any_bytes(cls, blob: bytes) -> "BloomFilter":
        """Auto-detect this engine's framed format vs the reference's
        raw-struct dump (the latter starts with a disk-meaningless
        pointer, so the 4-byte magic disambiguates)."""
        if blob[:4] == _MAGIC:
            return cls.from_bytes(blob)
        return cls.from_facs_bytes(blob)

    # -- banked serialization ------------------------------------------
    def split_banks(self, max_bank_bytes: int = _BANK_BYTES) -> list[bytes]:
        """Serialize as N blobs whose payloads each fit a broadcast cap.

        Oversized filters (the reference handles >4 GB files via
        chunked IO, facs/bloom.c:261-277) ship as multiple broadcast
        values — JVM byte arrays cap at 2 GB, so one giant blob is not
        an option at 10¹²-key capacity.  Bank 0 carries the header;
        banks are plain slices of the bit array (bit semantics
        unchanged).
        """
        hdr = _STAT.pack(self.stat.elements, self.stat.ideal_hashes,
                         self.stat.capacity, self.stat.e, self.k_mer,
                         self.inserts)
        raw = self.vector.tobytes()
        banks = [raw[i:i + max_bank_bytes]
                 for i in range(0, max(len(raw), 1), max_bank_bytes)]
        return [frame(_MAGIC, _VERSION, hdr + struct.pack("<I", len(banks)))
                ] + banks

    @classmethod
    def from_banks(cls, banks: list[bytes]) -> "BloomFilter":
        _, payload = unframe(_MAGIC, banks[0])
        m, k, cap, e, k_mer, inserts = _STAT.unpack_from(payload)
        (n_banks,) = struct.unpack_from("<I", payload, _STAT.size)
        if n_banks != len(banks) - 1:
            raise ValueError("bank count mismatch")
        vec = np.frombuffer(b"".join(banks[1:]), dtype=np.uint8).copy()
        return cls(stat=BloomStat(m, k, cap, e), k_mer=k_mer,
                   inserts=inserts, vector=vec)

    def to_payload(self) -> bytes | list[bytes]:
        """The broadcast form: the ``to_bytes`` blob, or ``split_banks``
        when that blob tops ``_BANK_BYTES`` (1 GiB; read at call time).
        ``from_payload`` reads either form."""
        blob = self.to_bytes()
        if len(blob) <= _BANK_BYTES:
            return blob
        return self.split_banks(_BANK_BYTES)

    @classmethod
    def from_payload(cls, payload: bytes | list) -> "BloomFilter":
        if isinstance(payload, list):
            return cls.from_banks([bytes(b) for b in payload])
        return cls.from_bytes(bytes(payload))

    # -- stats -------------------------------------------------------
    @property
    def expected_fpr(self) -> float:
        """(1 - e^{-kn/m})^k with n = inserts (published bound)."""
        return bloom_fpr(self.stat.elements, self.stat.ideal_hashes, self.inserts)

    @property
    def bits_set(self) -> int:
        """Popcount of the bit array (every index is taken mod the
        prime m ≤ 8·len(vector), so trailing pad bits are never set)."""
        return int(_POPCOUNT[self.vector].sum())

    def estimate_cardinality(self) -> float:
        """Swamidass & Baldi (2007) fill-ratio cardinality estimate:
        n̂ = −(m/k)·ln(1 − X/m) with X = bits set.

        ``inserts`` is exact for a single-pass build but only an
        UPPER BOUND after ``merge`` (novelty across partials is
        unknowable from OR-ed bits — the docstring contract above);
        the fill ratio is a pure function of the bit ARRAY, so this
        estimate is identical under any merge tree — the
        distinct-count companion every OR-merged filter needs.
        A saturated filter (X == m) returns +inf: beyond capacity the
        array carries no cardinality information.
        """
        m = float(self.stat.elements)
        x = float(self.bits_set)
        if x >= m:
            return float("inf")
        return -(m / self.stat.ideal_hashes) * float(np.log1p(-x / m))

    def cardinality_sd(self) -> float:
        """Delta-method standard deviation of ``estimate_cardinality``:
        X ≈ Binomial(m, q) ⇒ SD(n̂) ≈ (m/k)·sqrt(m·q·(1−q))/(m−X),
        q = X/m (Swamidass & Baldi 2007 §2; the independence
        approximation slightly OVERstates the variance, so gates built
        on this SD are conservative).  +inf when saturated."""
        m = float(self.stat.elements)
        x = float(self.bits_set)
        if x >= m:
            return float("inf")
        q = x / m
        return (m / self.stat.ideal_hashes) * np.sqrt(m * q * (1 - q)) / (m - x)

    def info(self) -> dict:
        """Filter metadata (the reference's `facs info`, facs/info.c:13-33)."""
        return {
            "elements": self.stat.elements,
            "ideal_hashes": self.stat.ideal_hashes,
            "capacity": self.stat.capacity,
            "error_rate": self.stat.e,
            "k_mer": self.k_mer,
            "inserts": self.inserts,
            "bytes": int(self.vector.nbytes),
            "expected_fpr": self.expected_fpr,
            "bits_set": self.bits_set,
            "estimated_distinct": self.estimate_cardinality(),
        }
