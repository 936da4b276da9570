"""Batch k-gram shingling — the webtext analogue of k-mer extraction.

The reference walks each read with a C pointer (stride-1 build windows
``facs/build.c:199-234``, stride-k probe windows ``facs/tool.c:66-90``).
Here a whole Arrow batch of pages is shingled at once: all texts are
lowercased (``normal_lower`` parity, facs/bloom.c:111-119), UTF-8
encoded into ONE contiguous byte buffer, and
``np.lib.stride_tricks.sliding_window_view`` exposes every length-k
window as a zero-copy (N, k) matrix; windows that straddle a document
boundary are masked out by offset arithmetic.  No per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view


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


def encode_batch(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Normalize + UTF-8 encode a batch into (buffer, offsets, lengths).

    Lowercasing is ASCII-only, applied as one vectorized pass over the
    shared byte buffer — exactly the reference's per-byte C ``tolower``
    (``normal_lower``, facs/bloom.c:111-119), and cheaper than
    allocating a lowered copy of every string.
    """
    enc = [("" if t is None else t).encode("utf-8") for t in texts]
    lengths = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    offsets = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    # bytearray join → writable buffer in ONE allocation (np.frombuffer
    # over bytes would be read-only and force a second full copy)
    buf = np.frombuffer(bytearray().join(enc), dtype=np.uint8)
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
    n_docs = len(lengths)
    n_wins_per_doc = np.maximum(lengths - k + 1, 0)
    total = int(n_wins_per_doc.sum())
    if buf.size < k or total == 0:
        return ShingleBatch(
            windows=np.empty((0, k), dtype=np.uint8),
            doc_idx=np.empty(0, dtype=np.int64),
            win_pos=np.empty(0, dtype=np.int64),
            doc_lengths=lengths, doc_offsets=offsets[:-1])
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), n_wins_per_doc)
    # window position within its doc: global arange minus per-doc start
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_wins_per_doc, out=starts[1:])
    win_pos = np.arange(total, dtype=np.int64) - starts[:-1][doc_idx]
    abs_pos = offsets[:-1][doc_idx] + win_pos
    all_windows = sliding_window_view(buf, k)  # zero-copy (len(buf)-k+1, k)
    return ShingleBatch(windows=all_windows[abs_pos], doc_idx=doc_idx,
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
    """Materialize only the requested windows from the shared buffer."""
    if abs_pos.size == 0 or buf.size < k:
        return np.empty((0, k), dtype=np.uint8)
    return sliding_window_view(buf, k)[abs_pos]
