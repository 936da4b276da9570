"""Hypothesis property tests: hash parity on arbitrary bytes, sketch
merge laws under arbitrary splits (SURVEY §5 property-test plan)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from facs_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog
from facs_spark.sketch.hashing import hash3_matrix
from test_hashing import hash3_scalar


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=200),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_hash3_vector_matches_scalar_any_bytes(key, seed):
    mat = np.frombuffer(key, dtype=np.uint8).reshape(1, len(key))
    assert int(hash3_matrix(mat, seed)[0]) == hash3_scalar(key, seed)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=2000),
       st.integers(min_value=1, max_value=7))
def test_hll_merge_equals_single_any_split(values, n_parts):
    vals = np.array(values, dtype=np.int64)
    whole = HyperLogLog(p=10)
    whole.update_batch(vals)
    merged = None
    for chunk in np.array_split(vals, n_parts):
        part = HyperLogLog(p=10)
        if chunk.size:
            part.update_batch(chunk)
        merged = part if merged is None else merged.merge(part)
    assert (merged.registers == whole.registers).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=-100, max_value=100),
                min_size=1, max_size=1000),
       st.integers(min_value=1, max_value=5))
def test_cms_merge_equals_single_any_split(values, n_parts):
    vals = np.array(values, dtype=np.int64)
    whole = CountMinSketch(epsilon=0.01, delta=0.1)
    whole.update_batch(vals)
    merged = None
    for chunk in np.array_split(vals, n_parts):
        part = CountMinSketch(epsilon=0.01, delta=0.1)
        if chunk.size:
            part.update_batch(chunk)
        merged = part if merged is None else merged.merge(part)
    assert (merged.table == whole.table).all()
    assert merged.total == whole.total


@settings(max_examples=20, deadline=None)
@given(st.lists(st.binary(min_size=4, max_size=4), min_size=1,
                max_size=500),
       st.integers(min_value=1, max_value=5))
def test_bloom_bits_order_independent(keys, n_parts):
    mats = np.frombuffer(b"".join(keys), dtype=np.uint8).reshape(-1, 4)
    whole = BloomFilter.create(capacity=1000, error_rate=0.01, k_mer=4)
    whole.add_batch(mats)
    merged = None
    rng = np.random.default_rng(0)
    perm = rng.permutation(mats.shape[0])
    for chunk in np.array_split(perm, n_parts):
        part = BloomFilter.create(capacity=1000, error_rate=0.01, k_mer=4)
        if chunk.size:
            part.add_batch(mats[chunk])
        merged = part if merged is None else merged.merge(part)
    assert (merged.vector == whole.vector).all()
    assert merged.contains_batch(mats).all()


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(codec="ascii",
                           exclude_characters="\x00"),
    max_size=120), min_size=0, max_size=12),
    st.integers(min_value=1, max_value=4))
def test_shingle_hashes_match_string_set_semantics(texts, n):
    """The vectorized token-shingle kernel's contract: per-doc hash
    SETS behave exactly like the string shingle sets it replaced —
    same sizes and same pairwise intersections (Jaccard is defined
    over these two numbers), for arbitrary ASCII text including
    repeated/odd whitespace, case mix, empty and short docs."""
    import numpy as np

    from facs_spark.ops.dedup import _shingle_hashes

    def string_shingles(text, n):
        toks = text.lower().split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    got = _shingle_hashes(texts, n)
    want = [string_shingles(t or "", n) for t in texts]
    for h, s in zip(got, want):
        assert h.size == len(s)
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = np.intersect1d(got[i], got[j],
                                   assume_unique=True).size
            assert inter == len(want[i] & want[j])


def test_shingle_ascii_fast_path_matches_fallback():
    """The Arrow-buffer + LUT-lowercase fast path (pure-ASCII batches)
    must produce bit-identical hash sets to the per-doc
    ``.lower().encode()`` fallback — appending one non-ASCII doc
    forces the SAME batch down the fallback, so the two paths are
    compared on identical inputs."""
    import numpy as np

    from facs_spark.ops.dedup import _shingle_hashes

    docs = [None, "", "   ", "Hello World HELLO world",
            "tab\tsep\nnewline\rcr", "a", "one two", "x y z " * 300,
            "\x1c\x1dC0-seps\x1e\x1f here", "MiXeD CaSe ToKeNs 123"]
    for n in (1, 2, 3, 5):
        fast = _shingle_hashes(docs, n)
        forced = _shingle_hashes(docs + ["ünïcode"], n)[:-1]
        for f, s in zip(fast, forced):
            assert np.array_equal(f, s), n


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=60), min_size=1,
                max_size=12),
       st.integers(min_value=2, max_value=5))
def test_window_hash_positions_match_reference(texts, n):
    """The vectorized positional window kernel (substring dedup /
    decontamination) against a direct python reference: identical
    (doc, pos) layout on arbitrary unicode (exercising the non-ASCII
    byte-buffer fallback), and hash-set semantics — two windows
    collide iff their token byte sequences are equal."""
    from facs_spark.ops.dedup import _window_hash_positions

    def tokens(t: str) -> list[bytes]:
        # the kernel's definition: maximal runs of non-WS bytes over
        # the UTF-8 encoding (WS = the _WS_BYTES set)
        ws = {9, 10, 11, 12, 13, 28, 29, 30, 31, 32}
        out, cur = [], bytearray()
        for b in t.encode("utf-8"):
            if b in ws:
                if cur:
                    out.append(bytes(cur))
                    cur = bytearray()
            else:
                cur.append(b)
        if cur:
            out.append(bytes(cur))
        return out

    want = []  # (doc, pos, window-tuple)
    for d, t in enumerate(texts):
        tk = tokens(t)
        for i in range(len(tk) - n + 1):
            want.append((d, i + 1, tuple(tk[i:i + n])))
    doc, pos, gh = _window_hash_positions(texts, n)
    got = list(zip(doc.tolist(), pos.tolist()))
    assert got == [(d, p) for d, p, _ in want]
    # equal windows <-> equal hashes (injectivity on observed grams)
    by_window: dict = {}
    for (d, p, w), h in zip(want, gh.tolist()):
        by_window.setdefault(w, set()).add(h)
    hashes_per_window = [len(v) for v in by_window.values()]
    assert all(c == 1 for c in hashes_per_window)
    all_hashes = [next(iter(v)) for v in by_window.values()]
    assert len(set(all_hashes)) == len(all_hashes)
