"""Mergeable-sketch protocol shared by all aggregators.

Every sketch is a small, fixed-size, *mergeable* summary with an
associative, commutative ``merge`` — the property that lets Spark
build partials per partition (map-side), combine them in a shuffle
tree, and produce the same answer for any partitioning of the input.
The reference's Bloom build is single-threaded (``facs/build.c``);
merge is the operation this engine adds to distribute it.

Serialization frame (all sketches): ``magic(4s) | version(u16) |
payload`` where payload is sketch-specific.  Blobs travel through
Spark as ``BinaryType`` columns.

Counter-array sketches (HLL, count-min, counting Bloom, cuckoo,
Count-Sketch, AMS) write ``header | counters``, where the frame
version says how the counters are laid out (``pack_counters``):

* v1 dense: the raw C-order array bytes;
* v2 sparse: ``u32 count | u32 idx[count] | values[count]`` with
  flat indices of the nonzero counters, chosen whenever it is under
  a quarter of the dense size.

Partials from small partitions or groups are mostly zeros, so the
shuffle and the SQL readers move only the observed counters; merge
and query always run dense in memory.
"""

from __future__ import annotations

import struct
from typing import Protocol, TypeVar

import numpy as np

S = TypeVar("S", bound="Sketch")

_HDR = struct.Struct("<4sH")


class Sketch(Protocol):
    """update_batch / merge / to_bytes / from_bytes / error bound."""

    MAGIC: bytes

    def update_batch(self, values) -> None: ...
    def merge(self: S, other: S) -> S: ...
    def to_bytes(self) -> bytes: ...
    @classmethod
    def from_bytes(cls: type[S], blob: bytes) -> S: ...


def frame(magic: bytes, version: int, payload: bytes) -> bytes:
    return _HDR.pack(magic, version) + payload


def unframe(magic: bytes, blob: bytes) -> tuple[int, bytes]:
    got, version = _HDR.unpack_from(blob)
    if got != magic:
        raise ValueError(f"bad sketch magic {got!r}, expected {magic!r}")
    return version, blob[_HDR.size:]


def pack_array(a: np.ndarray) -> bytes:
    dt = str(a.dtype).encode()
    return struct.pack("<B", len(dt)) + dt + struct.pack("<Q", a.size) + a.tobytes()


def unpack_array(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    (dlen,) = struct.unpack_from("<B", buf, offset)
    offset += 1
    dt = buf[offset : offset + dlen].decode()
    offset += dlen
    (size,) = struct.unpack_from("<Q", buf, offset)
    offset += 8
    nbytes = size * np.dtype(dt).itemsize
    a = np.frombuffer(buf, dtype=dt, count=size, offset=offset).copy()
    return a, offset + nbytes


# sparse must save >= 4x in bytes: its decode scatters into a zeroed
# dense array, which a smaller saving does not pay for
_SPARSE_SAVING = 4
_COUNT = struct.Struct("<I")


def pack_counters(arr: np.ndarray) -> tuple[int, bytes]:
    """(frame version, payload) for a counter array: v2 sparse when
    that is under 1/``_SPARSE_SAVING`` of the dense bytes (and flat
    indices fit u32), else v1 dense."""
    flat = arr.ravel()
    nz = np.flatnonzero(flat)
    sparse_bytes = _COUNT.size + nz.size * (4 + flat.itemsize)
    if flat.size < (1 << 32) and sparse_bytes < flat.nbytes // _SPARSE_SAVING:
        return 2, (_COUNT.pack(nz.size) + nz.astype(np.uint32).tobytes()
                   + flat[nz].tobytes())
    return 1, flat.tobytes()


def unpack_counters(version: int, payload: bytes, offset: int, dtype,
                    shape) -> np.ndarray:
    """Inverse of ``pack_counters``: a fresh writable array of
    ``shape`` decoded from ``payload[offset:]``."""
    dtype = np.dtype(dtype)
    size = int(np.prod(shape))
    if version == 1:
        return np.frombuffer(payload, dtype=dtype, count=size,
                             offset=offset).reshape(shape).copy()
    if version == 2:
        (count,) = _COUNT.unpack_from(payload, offset)
        offset += _COUNT.size
        idx = np.frombuffer(payload, dtype=np.uint32, count=count,
                            offset=offset)
        vals = np.frombuffer(payload, dtype=dtype, count=count,
                             offset=offset + 4 * count)
        out = np.zeros(size, dtype=dtype)
        out[idx] = vals
        return out.reshape(shape)
    # fail loudly on a layout from a newer release: parsing it as
    # dense counters would silently corrupt the sketch
    raise ValueError(f"unsupported counter frame version {version} "
                     "(this release reads v1 dense / v2 sparse)")
