"""Classification kernel vs a brute-force sequential oracle that
re-states the reference's scan semantics (facs/tool.c:56-180) in plain
Python, plus end-to-end zero-false-negative / FPR checks."""

import numpy as np

from facs_spark.kernels.classify import classify_batch
from facs_spark.kernels.shingle import (quick_probe_positions_batch,
                                        shingle_batch)
from facs_spark.sketch.bloom import BloomFilter
from facs_spark.sketch.prob import cdf, erf_as, get_mu, get_sigma

rng = np.random.default_rng(99)

VOCAB_REF = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
VOCAB_CLEAN = ["zulu", "yankee", "xray", "whiskey", "victor", "uniform"]


def make_text(vocab, n_tokens, seed):
    r = np.random.default_rng(seed)
    return " ".join(r.choice(vocab, size=n_tokens))


def exact_member_set(texts, k):
    grams = set()
    for t in texts:
        b = t.lower().encode()
        for i in range(len(b) - k + 1):
            grams.add(bytes(b[i:i + k]))
    return grams


def quick_probe_positions(length, k):
    """Stride-k probe positions of the reference's quick pass, one doc
    at a time: 0, k, 2k, ..., with the final probe right-aligned to
    ``length - k`` when the remainder is nonzero (facs/tool.c:66-90);
    empty for length < k."""
    if length < k:
        return np.empty(0, dtype=np.int64)
    pos = list(range(0, length - k + 1, k))
    if length % k:
        pos.append(length - k)
    return np.array(pos, dtype=np.int64)


def quick_probe_mask(sb, k):
    """Per-window restatement over a ShingleBatch: a window is a probe
    iff its position is a multiple of k or, when the doc has a
    remainder, it is the right-aligned tail window."""
    L = sb.doc_lengths[sb.doc_idx]
    return ((sb.win_pos % k) == 0) | (((L % k) != 0) & (sb.win_pos == L - k))


def sequential_oracle(text, member, k, tole):
    """Sequential restatement of total_subscan + total_full_check with an
    EXACT membership set (no Bloom FPs)."""
    b = text.lower().encode()
    L = len(b)
    if L < k:
        return False, 0, 0.0
    hit_at = lambda p: bytes(b[p:p + k]) in member
    quick = quick_probe_positions(L, k)
    escalated = any(hit_at(int(p)) for p in quick)
    if not escalated:
        return False, 0, 0.0
    match_time = 0
    conse = 0
    prev = False
    for p in range(L - k + 1):
        if hit_at(p):
            match_time += 1
            conse += 1 if prev else k
            prev = True
        else:
            prev = False
    score = (match_time * k + conse) / (k * L + L - k * k)
    return score >= tole, match_time, score


def test_shingle_positions_and_quick_mask():
    texts = ["abcdefghij", "abc", "ab", ""]
    k = 3
    sb = shingle_batch(texts, k)
    # doc 0: 8 windows, doc 1: 1, doc 2/3: none
    assert (sb.doc_lengths == [10, 3, 2, 0]).all()
    assert sb.windows.shape == (9, 3)
    assert bytes(sb.windows[0]) == b"abc"
    assert bytes(sb.windows[7]) == b"hij"
    assert bytes(sb.windows[8]) == b"abc"
    qm = quick_probe_mask(sb, k)
    # doc 0 (L=10): probes at 0,3,6 and right-aligned 7
    assert sorted(sb.win_pos[qm & (sb.doc_idx == 0)].tolist()) == [0, 3, 6, 7]
    assert sb.win_pos[qm & (sb.doc_idx == 1)].tolist() == [0]


def test_quick_probe_positions_match_reference_trace():
    assert quick_probe_positions(10, 3).tolist() == [0, 3, 6, 7]
    assert quick_probe_positions(9, 3).tolist() == [0, 3, 6]
    assert quick_probe_positions(3, 3).tolist() == [0]
    assert quick_probe_positions(4, 3).tolist() == [0, 1]
    assert quick_probe_positions(2, 3).tolist() == []
    # the batch kernel classify_batch probes with gives the same traces
    lengths = np.array([10, 9, 3, 4, 2])
    doc, pos = quick_probe_positions_batch(lengths, 3)
    for i, L in enumerate(lengths):
        assert pos[doc == i].tolist() == quick_probe_positions(L, 3).tolist()


def test_classify_matches_sequential_oracle():
    k, tole = 8, 0.3
    ref_texts = [make_text(VOCAB_REF, 40, s) for s in range(5)]
    member = exact_member_set(ref_texts, k)
    # big filter → negligible FP so oracle (exact set) agrees
    bf = BloomFilter.create(capacity=len(member) + 1, error_rate=1e-9, k_mer=k)
    sb = shingle_batch(ref_texts, k)
    bf.add_batch(sb.windows)

    probe_texts = (
        [make_text(VOCAB_REF, 30, 100 + s) for s in range(20)]      # contaminated
        + [make_text(VOCAB_CLEAN, 30, 200 + s) for s in range(20)]  # clean
        + [make_text(VOCAB_REF, 3, 300), make_text(VOCAB_CLEAN, 2, 301),
           "", "abc", make_text(VOCAB_REF + VOCAB_CLEAN, 50, 302)]  # edges/mixed
    )
    res = classify_batch(probe_texts, bf, k, tole)
    for i, t in enumerate(probe_texts):
        want_c, want_mt, want_score = sequential_oracle(t, member, k, tole)
        assert bool(res.contaminated[i]) == want_c, f"doc {i}"
        assert int(res.match_time[i]) == want_mt, f"doc {i}"
        assert abs(float(res.score[i]) - want_score) < 1e-12, f"doc {i}"


def test_full_check_probes_only_windows_the_quick_pass_left():
    """An escalated page's quick-pass answers are reused by its full
    check: the full check sends sum(L - k + 1) minus those pages' quick
    windows to the filter, and the result still equals the oracle."""
    k, tole = 8, 0.3
    ref_texts = [make_text(VOCAB_REF, 40, s) for s in range(5)]
    member = exact_member_set(ref_texts, k)
    bf = BloomFilter.create(capacity=len(member) + 1, error_rate=1e-9,
                            k_mer=k)
    bf.add_batch(shingle_batch(ref_texts, k).windows)
    # lengths with L % k == 0, L % k != 0 and L == k among the hits
    pages = ([ref_texts[0][:n] for n in (8, 16, 23, 40, 57, 64)]
             + [make_text(VOCAB_REF, 30, 400 + s) for s in range(6)]
             + [make_text(VOCAB_CLEAN, 30, 500 + s) for s in range(6)]
             + [make_text(VOCAB_CLEAN, 6, 600) + ref_texts[1][:20], None])
    sent = []
    inner = bf.contains_batch
    bf.contains_batch = lambda keys: (sent.append(keys.shape[0]),
                                      inner(keys))[1]
    res = classify_batch(pages, bf, k, tole)
    lengths = [len((t or "").encode()) for t in pages]
    esc = [i for i, t in enumerate(pages)
           if sequential_oracle(t or "", member, k, 0.0)[0]]
    assert esc == np.flatnonzero(res.escalated).tolist() and len(esc) > 10
    assert len(sent) == 2
    assert sent[1] == sum(lengths[i] - k + 1 - quick_probe_positions(
        lengths[i], k).size for i in esc)
    for i, t in enumerate(pages):
        want_c, want_mt, want_score = sequential_oracle(t or "", member, k,
                                                        tole)
        assert bool(res.contaminated[i]) == want_c, f"page {i}"
        assert int(res.match_time[i]) == want_mt, f"page {i}"
        assert abs(float(res.score[i]) - want_score) < 1e-12, f"page {i}"


def test_classify_edge_pages_match_sequential_oracle():
    """NULL, empty, shorter-than-k, exactly-k and k+1 pages, windows
    that straddle astral-plane and combining characters, and a last
    window that ends at the end of the batch's byte buffer."""
    k, tole = 8, 0.3
    ref = ("the quick brown fox \U0001F600 jumps; cafe\u0301 na\u00efve "
           "\U0001D11E\U0001D11E over the lazy dog \u1100\u1161 "
           "\U0001F600\u0301\U0001F600 end of the reference text")
    member = exact_member_set([ref], k)
    bf = BloomFilter.create(capacity=len(member) + 1, error_rate=1e-9,
                            k_mer=k)
    bf.add_batch(shingle_batch([ref], k).windows)
    pages = [
        None, "", "the qui", "quick br", "quick bro",
        "QUICK BROWN FOX \U0001F600 JUMPS",                # case + astral
        ref[18:60], ref[40:] + " zulu yankee",          # straddling starts
        "\U0001F600" * 9 + "e\u0301" * 7,                 # multi-byte clean
        "zulu \U0001D11E\U0001D11E over the lazy",        # k+1-ish overlap
        "xray " * 5 + ref[-30:],                        # ends on a member
    ]
    # Python's unicode lower() equals the kernel's byte-wise ASCII
    # lowering on every text here, so the oracle's member set applies
    for t in [ref] + pages:
        t = t or ""
        assert t.lower().encode() == bytes(
            c + 32 if 65 <= c <= 90 else c for c in t.encode())
    res = classify_batch(pages, bf, k, tole)
    assert res.lengths.tolist() == [len((t or "").encode()) for t in pages]
    for i, t in enumerate(pages):
        want_c, want_mt, want_score = sequential_oracle(t or "", member, k,
                                                        tole)
        assert bool(res.contaminated[i]) == want_c, f"page {i}"
        assert int(res.match_time[i]) == want_mt, f"page {i}"
        assert abs(float(res.score[i]) - want_score) < 1e-12, f"page {i}"
    assert res.contaminated[-1] and res.contaminated[3]
    assert not res.escalated[:3].any()


def test_classify_case_insensitive():
    """Case variants classify identically (facs/utils/helpers.py:28-33
    lowercase/mixedcase fixtures; normalization facs/bloom.c:111-135)."""
    k, tole = 8, 0.3
    base = make_text(VOCAB_REF, 40, 7)
    bf = BloomFilter.create(capacity=10_000, error_rate=1e-9, k_mer=k)
    bf.add_batch(shingle_batch([base], k).windows)
    r = np.random.default_rng(5)
    mixed = "".join(c.upper() if r.random() < 0.5 else c for c in base)
    res = classify_batch([base, base.lower(), base.upper(), mixed], bf, k, tole)
    assert res.contaminated.all()
    assert len(set(res.match_time.tolist())) == 1


def test_classify_no_false_negatives_and_fpr():
    """Pages drawn from the reference corpus always classify
    contaminated; clean-vocabulary pages false-positive at ≤ bound."""
    k, tole = 10, 0.3
    ref_texts = [make_text(VOCAB_REF, 60, s) for s in range(10)]
    member = exact_member_set(ref_texts, k)
    bf = BloomFilter.create(capacity=len(member), error_rate=0.001, k_mer=k)
    bf.add_batch(shingle_batch(ref_texts, k).windows)

    contam = [make_text(VOCAB_REF, 40, 1000 + s) for s in range(200)]
    clean = [make_text(VOCAB_CLEAN, 40, 2000 + s) for s in range(200)]
    res_c = classify_batch(contam, bf, k, tole)
    res_n = classify_batch(clean, bf, k, tole)
    assert res_c.contaminated.all(), "no false negatives allowed"
    assert res_n.contaminated.mean() <= 0.02, "page-level FPR too high"


def test_spiked_single_contaminant():
    """1 reference page among filler pages → contaminated_reads == 1
    (the reference's dummy-FASTQ spike, facs/utils/helpers.py:19-45)."""
    k, tole = 8, 0.4
    spike = make_text(VOCAB_REF, 50, 0)
    filler = ["gattacat " * 13] * 20
    bf = BloomFilter.create(capacity=2000, error_rate=1e-9, k_mer=k)
    bf.add_batch(shingle_batch([spike], k).windows)
    res = classify_batch(filler + [spike], bf, k, tole)
    assert int(res.contaminated.sum()) == 1
    assert bool(res.contaminated[-1])


def test_prob_parity_values():
    """A&S erf + cdf reproduce the reference's formulas (facs/prob.c)."""
    # erf(0)=0, erf(+inf)→1 for the polynomial on x>=0
    assert abs(erf_as(0.0)) < 1e-7
    assert abs(erf_as(3.0) - 1.0) < 1e-4
    # the reference's own sanity example shape: cdf at mu is 0.5
    assert abs(cdf(100.0, 100.0, 10.0) - 0.5) < 1e-9
    assert get_mu(1000, 0.05569) == 1000 * 0.05569
    assert get_sigma(1000, 0.1) == 1000 * 0.1 * 0.9
    # monotone in x
    assert cdf(90.0, 100.0, 10.0) < cdf(110.0, 100.0, 10.0)


def test_nonascii_lower_build_probe_symmetry():
    """Build and probe must normalize identically for non-ASCII text:
    byte-level ASCII tolower on BOTH sides (no unicode str.lower) —
    otherwise 'Ångström' would false-negative, violating the Bloom
    no-false-negative guarantee."""
    from facs_spark.kernels.shingle import encode_batch

    def ascii_lower(b: bytes) -> bytes:
        return bytes(c + 32 if 65 <= c <= 90 else c for c in b)

    text = "Ångström UNITS mixed ÅÄÖ tail"
    k = 6
    bf = BloomFilter.create(capacity=1000, error_rate=1e-6, k_mer=k)
    bf.add_batch(shingle_batch([text], k).windows)
    res = classify_batch([text, text.upper()], bf, k, 0.1)
    assert bool(res.contaminated[0]), "identical text must match itself"
    # ASCII-uppercased variant differs ONLY in ASCII letters → must hit
    ascii_upper = "".join(c.upper() if c.isascii() else c for c in text)
    res2 = classify_batch([ascii_upper], bf, k, 0.1)
    assert bool(res2.contaminated[0])
    # normalization helper: å stays å, A→a
    assert ascii_lower("ÅA".encode()) == "Å".encode() + b"a"
    # encode_batch buffer equals ascii_lower of the raw encoding
    buf, _off, _len = encode_batch([text])
    assert bytes(buf) == ascii_lower(text.encode())


def test_erf_as_approximation_quality():
    """A&S 7.1.26 has max absolute error 1.5e-7 on x >= 0 — our erf_as
    must stay within that of math.erf."""
    import math
    xs = np.linspace(0.0, 5.0, 2001)
    ours = erf_as(xs)
    errs = [abs(float(o) - math.erf(float(x))) for x, o in zip(xs, ours)]
    assert max(errs) < 1.5e-7
