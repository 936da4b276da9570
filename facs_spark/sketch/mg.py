"""Misra–Gries heavy-hitter summary (Misra & Gries 1982), with the
mergeable-summaries merge of Agarwal et al. (PODS 2012, §3).

Keeps at most ``k`` (key, count) pairs.  Feeding a batch first
aggregates it exactly, adds the counts pointwise, then — if more than
``k`` keys are tracked — subtracts the (k+1)-st largest count from
every counter and drops the non-positive ones.  That subtraction is
exactly the classic "decrement all" step amortized over a batch, and
it is also the Agarwal et al. merge: ``merge(A, B)`` is pointwise
addition followed by the same (k+1)-st-largest subtraction, which
preserves the summary's guarantee under ANY merge tree.

Published guarantee (deterministic, any merge order): with total
stream weight ``N``, every estimate satisfies

    est(x) <= true(x) <= est(x) + N / (k + 1)

i.e. the summary undercounts only, by at most ``error_bound``.
Every key with ``true > N/(k+1)`` is present in the summary.  The
*estimates* depend on batching/merge order (only the bound is
order-invariant), so distributed queries assert the bound against an
exact verifier rather than shipping raw estimates into results — same
discipline as the CMS queries (`queries.py` q06).

Counterpart of the reference's exact suffix-array top-k reporting
(`facs/query.c` hit counters) re-expressed as a bounded-memory
mergeable summary; complements CMS (overcount-only) with an
undercount-only dual.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .base import frame, unframe
from .hashing import key_column, spread

_MAGIC = b"FSMG"
_VERSION = 1
_HDR = struct.Struct("<IQQ")  # k, total, n_entries


@dataclass
class MisraGries:
    """Bounded-memory heavy-hitter summary over hashable keys."""

    k: int = 1024
    total: int = 0
    counters: dict = field(default_factory=dict, repr=False)

    MAGIC = _MAGIC

    def __post_init__(self):
        if self.k < 1:
            raise ValueError("MisraGries needs k >= 1")

    # -- update ------------------------------------------------------
    def update_batch(self, values, weights=None) -> None:
        """Count a column of keys (``hashing.key_column``: an int or a
        str, so a key reads the same from any partition), exactly per
        batch, then shrink."""
        import pandas as pd

        idx, keys = key_column(values)
        if weights is None:
            vc = pd.Series(keys).value_counts()
            add = dict(zip(vc.index.tolist(), vc.tolist()))
        else:
            add = {}
            for key, w in zip(keys.tolist(),
                              np.asarray(weights, dtype=np.int64)[idx].tolist()):
                add[key] = add.get(key, 0) + w
        if not add:
            return
        c = self.counters
        for key, cnt in add.items():
            c[key] = c.get(key, 0) + cnt
        self.total += sum(add.values())
        self._shrink()

    def _shrink(self) -> None:
        """Subtract the (k+1)-st largest count; keep strictly positive."""
        c = self.counters
        if len(c) <= self.k:
            return
        counts = np.fromiter(c.values(), dtype=np.int64, count=len(c))
        # (k+1)-st largest = index -(k+1) of the ascending partition
        pivot = int(np.partition(counts, -(self.k + 1))[-(self.k + 1)])
        self.counters = {key: cnt - pivot
                         for key, cnt in c.items() if cnt > pivot}

    # -- query -------------------------------------------------------
    def estimate(self, key) -> int:
        """Undercount-only point estimate (0 if untracked)."""
        return int(self.query_batch([key])[0])

    def query_batch(self, values) -> np.ndarray:
        """``estimate`` per row; a row with no key reads 0."""
        idx, keys = key_column(values)
        return spread(len(values), idx, np.array(
            [self.counters.get(key, 0) for key in keys.tolist()],
            dtype=np.int64))

    def heavy_hitters(self, threshold: int | None = None):
        """(key, est) pairs with est > threshold (default: guarantee
        cutoff N/(k+1) — every true-heavy key is guaranteed present)."""
        if threshold is None:
            threshold = self.total // (self.k + 1)
        return sorted(((key, cnt) for key, cnt in self.counters.items()
                       if cnt > threshold),
                      key=lambda kv: (-kv[1], str(kv[0])))

    @property
    def error_bound(self) -> float:
        """Maximum undercount: true - est <= N/(k+1), deterministic."""
        return self.total / (self.k + 1)

    # -- merge (Agarwal et al. 2012: add, then one shrink) ------------
    def merge(self, other: "MisraGries") -> "MisraGries":
        if self.k != other.k:
            raise ValueError("cannot merge MG summaries with different k")
        merged = dict(self.counters)
        for key, cnt in other.counters.items():
            merged[key] = merged.get(key, 0) + cnt
        out = MisraGries(k=self.k, total=self.total + other.total,
                         counters=merged)
        out._shrink()
        return out

    # -- io ------------------------------------------------------------
    # Wire: header | per-entry (u8 tag, key bytes, i64 count).  Keys are
    # ints (tag 0, 8 bytes LE) or utf-8 strings (tag 1, u32 len + bytes).
    def to_bytes(self) -> bytes:
        parts = [_HDR.pack(self.k, self.total, len(self.counters))]
        for key, cnt in self.counters.items():
            if isinstance(key, int):
                parts.append(b"\x00" + struct.pack("<qq", key, cnt))
            else:
                kb = key.encode("utf-8")
                parts.append(b"\x01" + struct.pack("<I", len(kb)) + kb
                             + struct.pack("<q", cnt))
        return frame(_MAGIC, _VERSION, b"".join(parts))

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MisraGries":
        version, payload = unframe(_MAGIC, blob)
        if version != _VERSION:
            raise ValueError(f"unsupported MG frame version {version}")
        k, total, n = _HDR.unpack_from(payload)
        off = _HDR.size
        counters: dict = {}
        for _ in range(n):
            tag = payload[off]
            off += 1
            if tag == 0:
                key, cnt = struct.unpack_from("<qq", payload, off)
                off += 16
                counters[int(key)] = int(cnt)
            elif tag == 1:
                (klen,) = struct.unpack_from("<I", payload, off)
                off += 4
                key = payload[off:off + klen].decode("utf-8")
                off += klen
                (cnt,) = struct.unpack_from("<q", payload, off)
                off += 8
                counters[key] = int(cnt)
            else:
                raise ValueError(f"bad MG entry tag {tag}")
        return cls(k=k, total=total, counters=counters)
