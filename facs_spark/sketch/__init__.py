"""Pure-numpy mergeable sketch core (no Spark dependency).

Bloom (reference parity), HyperLogLog, count-min, t-digest, KLL,
theta/KMV (set-operation algebra), Misra–Gries (undercount-only
heavy hitters), and Frequent Directions (matrix/covariance sketch)
— each with ``update_batch`` / associative ``merge`` / ``to_bytes``
/ ``from_bytes`` and a published error bound, per SURVEY.md §2.4.
"""

from .ams import AmsF2
from .bloom import BloomFilter
from .cbf import CountingBloom
from .cms import CountMinSketch
from .countsketch import CountSketch
from .cuckoo import CuckooFilter
from .ddsketch import DDSketch
from .fd import FrequentDirections
from .hll import HyperLogLog
from .kll import KLL
from .mg import MisraGries
from .moments import MomentsSketch
from .sizing import (BloomStat, bloom_fpr, facs_sizing, find_close_prime,
                     is_prime, kmer_suggestion, mco_suggestion,
                     prob_suggestion, standard_sizing)
from .tdigest import TDigest
from .theta import ThetaSketch

SKETCH_TYPES = {
    BloomFilter.MAGIC: BloomFilter,
    HyperLogLog.MAGIC: HyperLogLog,
    CountMinSketch.MAGIC: CountMinSketch,
    TDigest.MAGIC: TDigest,
    KLL.MAGIC: KLL,
    ThetaSketch.MAGIC: ThetaSketch,
    MisraGries.MAGIC: MisraGries,
    FrequentDirections.MAGIC: FrequentDirections,
    AmsF2.MAGIC: AmsF2,
    CountSketch.MAGIC: CountSketch,
    CountingBloom.MAGIC: CountingBloom,
    CuckooFilter.MAGIC: CuckooFilter,
    DDSketch.MAGIC: DDSketch,
    MomentsSketch.MAGIC: MomentsSketch,
}


def sketch_from_bytes(blob: bytes):
    """Dispatch deserialization on the 4-byte magic."""
    magic = bytes(blob[:4])
    try:
        return SKETCH_TYPES[magic].from_bytes(blob)
    except KeyError:
        raise ValueError(f"unknown sketch magic {magic!r}") from None


def merge_blobs(blobs):
    """Deserialize each blob and fold them with ``merge``, in order;
    ``None`` when there are none."""
    merged = None
    for blob in blobs:
        sk = sketch_from_bytes(bytes(blob))
        merged = sk if merged is None else merged.merge(sk)
    return merged


__all__ = [
    "BloomFilter", "HyperLogLog", "CountMinSketch", "TDigest", "KLL",
    "ThetaSketch", "MisraGries", "FrequentDirections", "AmsF2",
    "CountSketch", "CountingBloom", "CuckooFilter", "DDSketch",
    "MomentsSketch",
    "BloomStat", "bloom_fpr", "facs_sizing", "standard_sizing",
    "find_close_prime", "is_prime", "kmer_suggestion", "mco_suggestion",
    "prob_suggestion", "sketch_from_bytes", "merge_blobs", "SKETCH_TYPES",
]
