"""Vectorized two-phase page classification (the reference's query hot
path, re-expressed for Arrow batches).

Reference semantics reproduced (``facs/tool.c:56-180``):

1. **Quick pass** — probe stride-k windows (final probe right-aligned)
   against the Bloom filter; a page escalates iff any probe hits
   (``total_subscan``, facs/tool.c:66-90).
2. **Full check** — for escalated pages only, probe every stride-1
   window; score = ``(match_time·k + conse) / (k·L + L − k²)`` where
   ``conse`` adds k at each hit-run start and 1 inside a run
   (``total_full_check``, facs/tool.c:135-180; denominator uses the
   cached ``dx = k²``, facs/build.c:135).  Page is contaminated iff
   score ≥ ``tole_rate``.
3. **Counters** — ``all_k`` accumulates page *length* (not window
   count — quirk preserved, facs/tool.c:59-63); ``hits`` accumulates
   ``match_time`` from every full check that ran (facs/tool.c:174-175).

The reference then retries clean reads in reverse-complement space
(DNA-specific, facs/tool.c:107-131); for webtext that generalizes to
an optional canonicalization hook, off by default (SURVEY §2.2).

Everything is computed for the whole batch at once with numpy masks —
the sequential per-window loop becomes run-length algebra:
``conse = match_time + (k−1)·(#run starts)``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from ..sketch.bloom import BloomFilter
from .shingle import (as_string_array, encode_batch, flat_positions,
                      quick_probe_positions_batch, windows_at)


_REVCOMP = str.maketrans("ACGTacgt", "TGCAtgca")


def rev_complement_batch(texts):
    """Reverse-complement canonicalization (rev_trans parity,
    facs/bloom.c:368-412): reverse + A<->T / C<->G, case preserved."""
    return [("" if t is None else t).translate(_REVCOMP)[::-1]
            for t in texts]


# named second-pass canonicalizers (picklable by module reference)
CANONICALIZERS = {"dna_revcomp": rev_complement_batch}


@dataclass
class ClassifyResult:
    """Per-page classification + the global counter contributions."""

    contaminated: np.ndarray   # bool per page
    score: np.ndarray          # float per page (0 where no full check ran)
    match_time: np.ndarray     # stride-1 hit count per page (0 if not escalated)
    lengths: np.ndarray        # normalized byte length per page (all_k source)
    escalated: np.ndarray      # bool: quick pass hit → full check ran


def classify_batch(texts, bloom: BloomFilter, k: int, tole_rate: float,
                   canonicalize=None) -> ClassifyResult:
    """Classify a batch of page texts against a broadcast Bloom filter.

    ``texts``: an Arrow string array, or any sequence of str/None.
    ``canonicalize``: optional ``texts -> texts`` second-pass transform
    on a list of str/None (the reverse-complement analogue); pages
    still clean after the forward pass are re-checked in canonicalized
    space.
    """
    texts = as_string_array(texts)
    res = _classify_once(texts, bloom, k, tole_rate)
    if canonicalize is not None:
        clean = ~res.contaminated
        if clean.any():
            res2 = _classify_once(
                canonicalize(texts.filter(pa.array(clean)).to_pylist()),
                bloom, k, tole_rate)
            # merge: a clean page flips if its canonical form scores;
            # per-page score is the best of the two passes (the
            # reference returns the passing check's result), match_time
            # adds both passes' hits (hits-counter parity,
            # facs/tool.c:174-175)
            res.contaminated[clean] |= res2.contaminated
            res.score[clean] = np.maximum(res.score[clean], res2.score)
            res.match_time[clean] += res2.match_time
            res.escalated[clean] |= res2.escalated
    return res


def _classify_once(texts, bloom: BloomFilter, k: int,
                   tole_rate: float) -> ClassifyResult:
    # Lazy materialization, mirroring the reference's two-phase scan:
    # only stride-k probe windows are ever built for clean pages; the
    # full stride-1 window set is built ONLY for escalated pages.
    buf, offsets, lengths = encode_batch(texts)
    n_docs = lengths.size
    contaminated = np.zeros(n_docs, dtype=bool)
    score = np.zeros(n_docs, dtype=np.float64)
    match_time = np.zeros(n_docs, dtype=np.int64)
    escalated = np.zeros(n_docs, dtype=bool)
    if buf.size < k:
        return ClassifyResult(contaminated, score, match_time,
                              lengths, escalated)

    # Phase 1: quick pass — probe only stride-k positions.
    q_doc, q_pos = quick_probe_positions_batch(lengths, k)
    q_hits = bloom.contains_batch(
        windows_at(buf, offsets[:-1][q_doc] + q_pos, k))
    escalated = np.bincount(q_doc[q_hits], minlength=n_docs) > 0

    if escalated.any():
        # Phase 2: full stride-1 check, only for escalated pages.
        esc = np.flatnonzero(escalated)
        n_wins = lengths[esc] - k + 1  # all ≥ 1 (escalated ⇒ L ≥ k)
        sub_idx, f_pos = flat_positions(n_wins)
        f_doc = esc[sub_idx]
        # An escalated page's quick positions are among its full-check
        # windows (p % k == 0, plus the right-aligned tail): fill those
        # from the quick answers and probe only the rest.
        q_esc = np.flatnonzero(escalated[q_doc])
        first = np.zeros(n_docs, dtype=np.int64)
        first[esc] = np.cumsum(n_wins) - n_wins
        known = first[q_doc[q_esc]] + q_pos[q_esc]
        f_hits = np.zeros(f_pos.size, dtype=bool)
        f_hits[known] = True
        rest = np.flatnonzero(~f_hits)
        f_hits[known] = q_hits[q_esc]
        f_hits[rest] = bloom.contains_batch(
            windows_at(buf, (offsets[:-1][f_doc] + f_pos)[rest], k))
        # match_time per doc
        match_time = np.bincount(f_doc[f_hits], minlength=n_docs)
        # run starts: hit with no hit at previous window of same doc
        prev_hit = np.zeros(f_hits.size, dtype=bool)
        prev_hit[1:] = f_hits[:-1]
        same_doc = np.zeros(f_hits.size, dtype=bool)
        same_doc[1:] = f_doc[1:] == f_doc[:-1]
        run_start = f_hits & ~(prev_hit & same_doc)
        run_starts = np.bincount(f_doc[run_start], minlength=n_docs)
        # conse = match_time + (k-1)·run_starts  (k at start, 1 inside)
        conse = match_time + (k - 1) * run_starts
        L = lengths
        # Score in float64 (the reference uses C float; we use double on
        # both the engine and oracle sides so the two agree exactly).
        denom = (k * L + L - k * k).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = (match_time * k + conse).astype(np.float64) / denom
        score = np.where(escalated & (denom > 0), s, 0.0)
        contaminated = escalated & (score >= tole_rate)
        match_time = np.where(escalated, match_time, 0)

    return ClassifyResult(contaminated, score, match_time,
                          lengths, escalated)
