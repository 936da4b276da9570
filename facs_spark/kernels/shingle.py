"""Batch k-gram shingling — the webtext analogue of k-mer extraction.

The reference walks each read with a C pointer (stride-1 build windows
``facs/build.c:199-234``, stride-k probe windows ``facs/tool.c:66-90``).
Here a whole Arrow batch of pages is shingled at once: all texts are
lowercased (``normal_lower`` parity, facs/bloom.c:111-119) in ONE
contiguous UTF-8 byte buffer (an Arrow string array's own), and a
zero-copy view of one k-byte record per buffer offset yields the
windows at any start positions as one (N, k) gather; windows that
straddle a document boundary are never asked for (offset arithmetic).
No per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa


@dataclass
class ShingleBatch:
    """All valid k-gram windows of a batch of documents.

    ``windows`` is an (n_windows, k) uint8 view into one shared buffer;
    ``doc_idx[i]`` is the batch-local document of window i;
    ``doc_lengths[d]`` is the byte length of document d after
    normalization (the reference's ``true_length``);
    ``win_pos[i]`` is the 0-based window start within its document.
    """

    windows: np.ndarray
    doc_idx: np.ndarray
    win_pos: np.ndarray
    doc_lengths: np.ndarray
    doc_offsets: np.ndarray  # start offset of each doc in the buffer


def as_string_array(texts) -> pa.Array:
    """``texts`` as an Arrow string array: an Arrow array as it is, any
    other sequence through ``pa.array`` (None → NULL)."""
    if isinstance(texts, pa.Array):
        return texts
    return pa.array(texts, pa.string())


def utf8_batch(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """UTF-8 encode a batch into a writable (buffer, offsets, lengths).

    The Arrow string array's own offsets and UTF-8 data buffer are
    read in place (32- or 64-bit offsets, any slice); a NULL page has
    length 0.  ``offsets[d]`` is page d's start in ``buffer``, and
    the buffer is the one copy.
    """
    arr = as_string_array(texts)
    n = len(arr)
    _validity, off_buf, data = arr.buffers()[:3]
    width = 8 if pa.types.is_large_string(arr.type) else 4
    offsets = np.frombuffer(off_buf, dtype=f"<i{width}", count=n + 1,
                            offset=arr.offset * width).astype(np.int64)
    lengths = np.diff(offsets)
    if arr.null_count:  # a NULL slot's bytes (if any) are not text
        lengths[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    lo, hi = int(offsets[0]), int(offsets[-1])
    offsets -= lo
    buf = (np.frombuffer(data, dtype=np.uint8, count=hi - lo, offset=lo).copy()
           if hi > lo else np.empty(0, dtype=np.uint8))
    return buf, offsets, lengths


def encode_batch(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Normalize + UTF-8 encode a batch into (buffer, offsets, lengths)
    (``utf8_batch``), lowercased in place: ASCII-only, one vectorized
    pass — exactly the reference's per-byte C ``tolower``
    (``normal_lower``, facs/bloom.c:111-119).
    """
    buf, offsets, lengths = utf8_batch(texts)
    if buf.size:
        upper = (buf >= 65) & (buf <= 90)  # 'A'..'Z'
        buf[upper] += 32
    return buf, offsets, lengths


def shingle_batch(texts, k: int) -> ShingleBatch:
    """Extract every stride-1 k-gram window from a batch of texts.

    Documents shorter than k contribute no windows (the reference
    would read out of bounds there — ``facs/tool.c:70-76``; we define
    short docs as windowless, noted in SURVEY §7).
    """
    buf, offsets, lengths = encode_batch(texts)
    doc_idx, win_pos = flat_positions(np.maximum(lengths - k + 1, 0))
    abs_pos = offsets[:-1][doc_idx] + win_pos
    return ShingleBatch(windows=windows_at(buf, abs_pos, k), doc_idx=doc_idx,
                        win_pos=win_pos, doc_lengths=lengths,
                        doc_offsets=offsets[:-1])


def flat_positions(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc_idx, within-doc ordinal) for ragged per-doc counts."""
    n = counts.size
    total = int(counts.sum())
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    ordinal = np.arange(total, dtype=np.int64) - starts[:-1][doc_idx]
    return doc_idx, ordinal


def quick_probe_positions_batch(lengths: np.ndarray, k: int):
    """Vectorized quick-pass probe positions for a whole batch.

    Per doc: ceil(L/k) probes at 0, k, 2k, …, with the final probe
    right-aligned to L−k when L % k ≠ 0 (facs/tool.c:66-90).  Returns
    (doc_idx, pos) flat arrays; docs with L < k contribute none.
    """
    nq = np.where(lengths >= k, -(-lengths // k), 0)
    doc_idx, j = flat_positions(nq)
    pos = j * k
    L = lengths[doc_idx]
    tail = (j == nq[doc_idx] - 1) & (L % k != 0)
    pos[tail] = L[tail] - k
    return doc_idx, pos


def windows_at(buf: np.ndarray, abs_pos: np.ndarray, k: int) -> np.ndarray:
    """Materialize only the requested windows from the shared buffer:
    one k-byte record per window start (a gather of void records is ~2x
    faster than fancy-indexing a 2-D sliding-window view)."""
    if abs_pos.size == 0 or buf.size < k:
        return np.empty((0, k), dtype=np.uint8)
    records = np.ndarray(buffer=buf, dtype=np.dtype((np.void, k)),
                         shape=(buf.size - k + 1,), strides=(1,))
    return records[abs_pos].view(np.uint8).reshape(-1, k)
