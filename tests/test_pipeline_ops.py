"""Training-data pipeline ops: dedup recall, ANN recall vs brute force,
checkpoint/resume, multimodal plumbing (SURVEY training-data section)."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from facs_spark.ops.checkpoint import checkpoint_build, lineage, resume
from facs_spark.ops.dedup import (exact_jaccard_pairs, minhash_dedup,
                                  ngram_jaccard_pairs, simhash_fingerprints,
                                  simhash_near_pairs)
from facs_spark.ops.multimodal import (decode_image, image_features,
                                       media_metadata, synth_media)
from facs_spark.ops.similarity import (brute_force_topk, ivf_topk,
                                       lsh_bucket_topk)
from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
from facs_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_spark_ops_tests", cpus=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------- dedup
def test_minhash_recall_vs_exact(spark, docs):
    """LSH candidates must recover every exact pair at J ≥ 0.8."""
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                          threshold=0.8).collect()}
    got = {(r["id_a"], r["id_b"])
           for r in minhash_dedup(docs, "doc_id", "text",
                                  threshold=0.8).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    assert got == exact


def test_simhash_finds_planted_dups(spark, docs):
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                          threshold=0.95).collect()}
    fp = simhash_fingerprints(docs, "doc_id", "text", shingle_n=2)
    got = {(r["id_a"], r["id_b"])
           for r in simhash_near_pairs(fp, "doc_id", max_hamming=6).collect()}
    # near-identical pairs sit at Hamming 2-6; recall must be high
    # (SimHash is lossier than MinHash — 0.8 is the useful floor)
    assert exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"simhash recall {recall} on planted dups"


def test_simhash_candidate_ratio_bounded(spark, docs):
    """16-bit-key LSH tables must generate near-linear candidates —
    the round-1 8-bit blocks gave ≈ n²/32 (quadratic at 100×)."""
    from facs_spark.ops.dedup import _simhash_block_tables
    fp = simhash_fingerprints(docs, "doc_id", "text", shingle_n=2).cache()
    n = fp.count()
    blocks = _simhash_block_tables(fp, "doc_id", max_hamming=3)
    left = blocks.select(F.col("doc_id").alias("id_a"), "blk", "val")
    right = blocks.select(F.col("doc_id").alias("id_b"), "blk", "val")
    candidates = (left.join(right, ["blk", "val"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b").distinct().count())
    fp.unpersist()
    # 4 tables × 2^16 cells: random collisions ≈ 4·n²/2^17 ≪ n; the
    # remainder is true near-dups, so candidates stay O(planted pairs)
    assert candidates <= 5 * n, (
        f"{candidates} candidates for {n} docs — bucketing is quadratic")
    assert candidates < n * (n - 1) / 64, "worse than the old 8-bit blocks"


def test_star_cc_deep_chain(spark):
    """A 2k-node path graph (diameter ≫ round budget for plain label
    propagation) must converge via large-star/small-star in O(log n)
    rounds on the distributed path."""
    from facs_spark.ops.dedup import dedup_clusters
    n = 2000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    labels = dedup_clusters(pairs, max_iters=25, driver_threshold=0)
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["cluster_rep"] == 0 for r in rows)


def test_simhash_pigeonhole_recall_guarantee(spark):
    """Structural recall proof-by-sampling: any two prints within the
    Hamming ball MUST share a table key (4×16-bit blocks for ≤3;
    C(8,2) 8-bit block pairs for ≤6) — zero missed pairs allowed."""
    from facs_spark.ops.dedup import simhash_near_pairs
    rng = np.random.default_rng(99)
    rows, expected = [], set()
    base = rng.integers(0, 2 ** 63, size=40, dtype=np.int64)
    next_id = 0
    for h in (3, 6):
        for b in base:
            a_id, b_id = next_id, next_id + 1
            next_id += 2
            flips = rng.choice(64, size=h, replace=False)
            flipped = int(b)
            for f in flips:
                flipped ^= (1 << int(f))
            flipped = np.int64(np.uint64(flipped & ((1 << 64) - 1)))
            rows += [(a_id, int(b)), (b_id, int(flipped))]
            expected.add((min(a_id, b_id), max(a_id, b_id), h))
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    for h in (3, 6):
        got = {(r["id_a"], r["id_b"])
               for r in simhash_near_pairs(fp, "doc_id",
                                           max_hamming=h).collect()}
        want = {(a, b) for a, b, hh in expected if hh <= h}
        missed = want - got
        assert not missed, f"Hamming≤{h} pigeonhole violated: {missed}"


def test_classify_shuffle_empty_reference(spark, docs):
    """No reference grams → nothing escalates, nothing contaminated,
    every page still present with zeroed scores."""
    from facs_spark.ops.contamination import classify_pages_shuffle
    empty_ref = docs.filter(F.lit(False))
    out = classify_pages_shuffle(docs.limit(50), empty_ref,
                                 id_col="doc_id", text_col="text",
                                 k=15, tole_rate=0.4).collect()
    assert len(out) == 50
    assert all(not r["escalated"] and not r["contaminated"]
               and r["match_time"] == 0 and r["match_score"] == 0.0
               for r in out)


def test_star_cc_equals_union_find_on_random_graphs(spark):
    """Distributed star CC must label exactly like the driver
    union-find on random graphs (multiple shapes, seeded)."""
    from facs_spark.ops.dedup import dedup_clusters
    rng = np.random.default_rng(13)
    for trial, (n, m) in enumerate([(60, 40), (200, 150), (300, 500)]):
        e = rng.integers(0, n, size=(m, 2))
        e = e[e[:, 0] != e[:, 1]]
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in e], "id_a long, id_b long")
        dist = {r["id"]: r["cluster_rep"]
                for r in dedup_clusters(pairs, driver_threshold=0).collect()}
        drv = {r["id"]: r["cluster_rep"]
               for r in dedup_clusters(pairs).collect()}
        assert dist == drv, f"trial {trial}: star CC != union-find"


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A viral boilerplate shingle shared by every doc must be dropped
    by the df cap without losing the genuine near-dup pair."""
    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"{boiler} unique{i} filler{i} tail{i} pad{i} end{i}")
            for i in range(50)]
    rows.append((100, boiler + " alpha beta gamma delta epsilon zeta"))
    rows.append((101, boiler + " alpha beta gamma delta epsilon eta"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3,
                              threshold=0.5, max_df=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(100, 101)}
    # over the non-stop universe the pair's J is computed exactly
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in got)


def test_ngram_jaccard_default_cap_is_noop(spark, docs):
    """The default max_df=1000 must not change results on the test
    corpus (max shingle df ≈ 25 at sf0.1) — oracle safety."""
    capped = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
              for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                           threshold=0.8).collect()}
    exact = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
             for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                          threshold=0.8,
                                          max_df=None).collect()}
    assert capped == exact and capped


def test_exact_jaccard_verify_stage(spark, docs):
    pairs = spark.createDataFrame([(285, 301), (0, 1)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in exact_jaccard_pairs(docs, pairs, "doc_id", "text").collect()}
    assert len(out) == 2
    assert 0.0 <= out[(0, 1)] < 0.5


# ------------------------------------------------------------ similarity
def test_ann_recall_vs_brute_force(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    qids = np.array([r["vec_id"] for r in rows[:20]])
    qvecs = np.array([r["embedding"] for r in rows[:20]], dtype=np.float64)
    exact = brute_force_topk(emb, qvecs, qids, "vec_id", "embedding", k=6)
    exact_map = {}
    for r in exact.collect():
        exact_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = lsh_bucket_topk(emb, "vec_id", "embedding", k=6, bits=4)
    approx_map = {}
    for r in approx.collect():
        approx_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = []
    for q, exact_nbrs in exact_map.items():
        exact_nbrs = exact_nbrs - {q}
        got = approx_map.get(q, set()) - {q}
        if exact_nbrs:
            recalls.append(len(got & exact_nbrs) / len(exact_nbrs))
    assert np.mean(recalls) >= 0.3, f"LSH recall too low: {np.mean(recalls)}"
    ivf = ivf_topk(emb, "vec_id", "embedding", k=6, n_cells=8, nprobe=3)
    ivf_map = {}
    for r in ivf.collect():
        ivf_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls_ivf = [len((ivf_map.get(q, set()) - {q}) & (e - {q})) / len(e - {q})
                   for q, e in exact_map.items() if e - {q}]
    assert np.mean(recalls_ivf) >= 0.5, f"IVF recall too low: {np.mean(recalls_ivf)}"


def test_ann_recall_at_10x_scale(spark):
    """Auto-derived bits must hold recall at 10× the fixture's
    embedding count (clustered synthetic corpus, deterministic)."""
    import pandas as pd

    from facs_spark.ops.similarity import auto_lsh_bits
    rng = np.random.default_rng(42)
    centers = rng.standard_normal((250, 64))
    pts = (np.repeat(centers, 20, axis=0)
           + 0.05 * rng.standard_normal((5000, 64)))
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(5000), "embedding": [v.tolist() for v in pts]}))
    qids = np.arange(20)
    qvecs = pts[:20]
    exact_map = {}
    for r in brute_force_topk(emb, qvecs, qids, "vec_id", "embedding",
                              k=6).collect():
        exact_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_map = {}
    for r in lsh_bucket_topk(emb, "vec_id", "embedding", k=6).collect():
        approx_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len((approx_map.get(q, set()) - {q}) & (e - {q}))
               / len(e - {q})
               for q, e in exact_map.items() if e - {q}]
    assert np.mean(recalls) >= 0.5, f"LSH recall at 10×: {np.mean(recalls)}"
    # the resolution scaling law itself: expected bucket ≈ target
    assert auto_lsh_bits(500) == 1
    assert auto_lsh_bits(2_000_000) == 10
    assert auto_lsh_bits(10 ** 12) == 24  # capped


def test_winnow_fingerprints_match_per_doc_reference(spark, docs):
    """The batched masked sliding-window kernel must equal the
    transparent per-doc winnowing definition (Schleimer et al. 2003),
    including docs shorter than k and shorter than the window."""
    from numpy.lib.stride_tricks import sliding_window_view

    from facs_spark.kernels.shingle import shingle_batch
    from facs_spark.ops.textstats import winnow_fingerprints
    from facs_spark.sketch.hashing import hash3_matrix
    k, w = 8, 4
    sample = docs.limit(40).collect()
    rows = [(r["doc_id"], r["text"]) for r in sample]
    rows += [(9001, "tiny"), (9002, "exactly8c"), (9003, "")]
    expected = {}
    for doc_id, text in rows:
        sb = shingle_batch([text], k)
        if sb.windows.shape[0] == 0:
            continue
        h = hash3_matrix(sb.windows, 0)
        mins = (np.array([h.min()]) if h.size <= w
                else sliding_window_view(h, w).min(axis=1))
        expected[doc_id] = set(
            (np.unique(mins) >> np.uint64(1)).astype(np.int64).tolist())
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, "doc_id", "text", k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert got == expected


def test_classify_shuffle_equals_broadcast(spark, docs):
    """The no-broadcast shuffle semi-join path must reproduce the
    broadcast-Bloom path exactly on an exact-rate filter (same
    escalation, same contamination, same score doubles)."""
    from facs_spark.ops.contamination import (build_reference_bloom,
                                              classify_pages,
                                              classify_pages_shuffle)
    ref = docs.filter(F.col("source") == "src0")
    bloom = build_reference_bloom(ref, text_col="text", k=15,
                                  error_rate=1e-9)
    bc = {r["doc_id"]: (r["escalated"], r["contaminated"],
                        r["match_time"], round(r["match_score"], 12),
                        r["text_len"])
          for r in classify_pages(docs, bloom, text_col="text",
                                  passthrough=("doc_id",),
                                  tole_rate=0.4).collect()}
    sh = {r["doc_id"]: (r["escalated"], r["contaminated"],
                        r["match_time"], round(r["match_score"], 12),
                        r["text_len"])
          for r in classify_pages_shuffle(docs, ref, id_col="doc_id",
                                          text_col="text", k=15,
                                          tole_rate=0.4).collect()}
    assert set(bc) == set(sh) and len(bc) == docs.count()
    diffs = {d: (bc[d], sh[d]) for d in bc if bc[d] != sh[d]}
    assert not diffs, f"{len(diffs)} mismatches, first: {next(iter(diffs.items()))}"
    assert any(v[1] for v in sh.values()), "fixture must contain contamination"


def test_cosine_neardup_pairs_vs_brute_force(spark):
    """Embedding near-dup pairs: LSH-proposed + exact-verified pairs
    must recover ≥99% of brute-force pairs at cosine ≥ 0.9 on a
    clustered corpus, with zero false positives (verify is exact)."""
    import pandas as pd

    from facs_spark.ops.similarity import cosine_neardup_pairs
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((100, 64))
    pts = (np.repeat(centers, 20, axis=0)
           + 0.12 * rng.standard_normal((2000, 64)))
    norm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    sims = norm @ norm.T
    iu = np.triu_indices(2000, k=1)
    truth = {(int(a), int(b)) for a, b in
             zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])}
    assert len(truth) > 1000, "fixture must contain near-dup pairs"
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(2000), "embedding": [v.tolist() for v in pts]}))
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in cosine_neardup_pairs(emb, "vec_id", "embedding",
                                         threshold=0.9).collect()}
    assert set(got) <= truth, "exact verify must not false-positive"
    recall = len(set(got) & truth) / len(truth)
    assert recall >= 0.99, f"near-dup pair recall {recall}"


def test_lsh_auto_params_meet_miss_rate_at_scale():
    """The cosine-LSH auto-params must meet the documented miss rate
    analytically at the 10⁹-row design point (the round-2 VERDICT
    recall hole): plain bucketing needs >32 tables there, multi-probe
    brings it back inside the cap with the guarantee intact."""
    from facs_spark.ops.similarity import (auto_lsh_bits,
                                           lsh_collision_prob,
                                           lsh_tables_needed)
    bits = auto_lsh_bits(10**9)
    assert lsh_tables_needed(bits, 0.9, 1e-3, probe_bits=0) > 32
    t = lsh_tables_needed(bits, 0.9, 1e-3, probe_bits=bits)
    assert t <= 32, f"probe-escalated table count {t} still over cap"
    p = lsh_collision_prob(bits, 0.9, probe_bits=bits)
    assert (1 - p) ** t <= 1e-3, "auto params miss the documented rate"


def test_lsh_table_cap_warning_states_achievable_rate():
    """When the table cap binds (e.g. 10¹²-row auto bits) the cap must
    be LOUD: a RuntimeWarning with the actually-achievable miss rate,
    never a silent degradation (repo no-silent-caps rule)."""
    import warnings

    from facs_spark.ops.similarity import auto_lsh_bits, auto_lsh_tables
    bits = auto_lsh_bits(10**12)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t = auto_lsh_tables(bits, 0.9, max_tables=32, probe_bits=bits)
    assert t == 32
    assert any("achievable miss rate" in str(x.message) for x in w)


def test_multiprobe_finds_sign_hamming1_pairs(spark):
    """With ONE table, plain bucketing misses every pair whose sign
    patterns differ in ≥1 bit; full Hamming-1 probing must recover the
    distance-1 pairs (the per-table collision boost the analytic model
    charges for)."""
    import pandas as pd

    from facs_spark.ops.similarity import cosine_neardup_pairs
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((30, 64))
    pts = (np.repeat(centers, 20, axis=0)
           + 0.12 * rng.standard_normal((600, 64)))
    norm = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    sims = norm @ norm.T
    iu = np.triu_indices(600, k=1)
    truth = {(int(a), int(b)) for a, b in
             zip(iu[0][sims[iu] >= 0.9], iu[1][sims[iu] >= 0.9])}
    assert len(truth) > 300
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(600), "embedding": [v.tolist() for v in pts]}))
    kw = dict(threshold=0.9, bits=10, tables=1, dim=64)
    plain = {(r["id_a"], r["id_b"]) for r in
             cosine_neardup_pairs(emb, "vec_id", "embedding",
                                  probe_bits=0, **kw).collect()}
    probed = {(r["id_a"], r["id_b"]) for r in
              cosine_neardup_pairs(emb, "vec_id", "embedding",
                                   probe_bits=10, **kw).collect()}
    assert plain <= truth and probed <= truth, "verify must stay exact"
    assert plain < probed, "probing must add Hamming-1 pairs"
    r_plain = len(plain) / len(truth)
    r_probe = len(probed) / len(truth)
    # analytic floor: 1 table at bits=10 co-buckets a threshold-0.9
    # pair w.p. ≥ q^10 ≈ 0.21, +full H1 probing ≥ 0.57 (planted pairs
    # sit above the threshold, so observed recall runs higher — 0.53
    # vs 0.90 measured); gate a material boost over plain plus the
    # model floor
    assert r_probe >= 0.57 and r_probe >= r_plain + 0.15, (r_plain, r_probe)


def test_ivf_centroid_sample_covers_sorted_table(spark):
    """IVF centroids come from a seeded Bernoulli sample, not
    limit(): on a table SORTED by cluster (the realistic
    ingest-clustered shape) head-sampling would model only the first
    clusters and strand the tail in far cells.  Gate: tail-cluster
    queries must recall their exact neighbors as well as the head."""
    import pandas as pd

    from pyspark.sql.window import Window as W

    from facs_spark.ops.similarity import brute_force_topk, ivf_topk
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((16, 64)) * 4
    pts = (np.repeat(centers, 256, axis=0)
           + 0.2 * rng.standard_normal((4096, 64)))  # sorted by cluster
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(4096), "embedding": [v.tolist() for v in pts]}))
    ids = np.arange(4096)
    exact = (brute_force_topk(emb, pts, ids, "vec_id", "embedding", k=6)
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("rk", F.row_number().over(
                 W.partitionBy("query_id").orderBy("rank")))
             .filter(F.col("rk") <= 5).select("query_id", "neighbor_id"))
    got = (ivf_topk(emb, "vec_id", "embedding", k=5, n_cells=16,
                    nprobe=2, n_rows=4096)
           .select("query_id", "neighbor_id"))
    hits = got.join(exact, ["query_id", "neighbor_id"]).count()
    recall = hits / exact.count()
    assert recall >= 0.95, f"overall IVF recall {recall}"
    tail = F.col("query_id") >= 3840  # the last cluster
    tail_hits = (got.filter(tail).join(exact.filter(tail),
                                       ["query_id", "neighbor_id"]).count())
    tail_recall = tail_hits / exact.filter(tail).count()
    assert tail_recall >= 0.9, f"tail-cluster recall {tail_recall}"


def test_ivf_short_draw_redraw_stays_unbiased(spark):
    """A wildly overestimated n_rows hint makes the first Bernoulli
    centroid draw come up (near-)empty; the corrected-fraction REDRAW
    must restore full coverage of a cluster-sorted table — a limit()
    fallback would model only the head clusters and strand the tail
    (the exact bias the seeded draw exists to avoid)."""
    import warnings

    import pandas as pd

    from pyspark.sql.window import Window as W

    from facs_spark.ops.similarity import brute_force_topk, ivf_topk
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((16, 64)) * 4
    pts = (np.repeat(centers, 256, axis=0)
           + 0.2 * rng.standard_normal((4096, 64)))  # sorted by cluster
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(4096), "embedding": [v.tolist() for v in pts]}))
    ids = np.arange(4096)
    exact = (brute_force_topk(emb, pts, ids, "vec_id", "embedding", k=6)
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("rk", F.row_number().over(
                 W.partitionBy("query_id").orderBy("rank")))
             .filter(F.col("rk") <= 5).select("query_id", "neighbor_id"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = (ivf_topk(emb, "vec_id", "embedding", k=5, n_cells=16,
                        nprobe=2, n_rows=40_000_000)  # hint 10,000× high
               .select("query_id", "neighbor_id"))
        n_exact = exact.count()
        tail = F.col("query_id") >= 3840
        tail_hits = (got.filter(tail)
                     .join(exact.filter(tail),
                           ["query_id", "neighbor_id"]).count())
        hits = got.join(exact, ["query_id", "neighbor_id"]).count()
    assert any("redrawing at fraction" in str(w.message) for w in caught), \
        "expected the short-draw redraw warning"
    assert hits / n_exact >= 0.95
    assert tail_hits / exact.filter(tail).count() >= 0.9


# ------------------------------------------------------------ checkpoint
def test_checkpoint_build_and_resume(spark, docs):
    spec = SketchSpec.make("hll", "doc_id", p=12)
    direct, direct_rows = build_sketch(docs, spec)
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "ckpt")
        sk1, rows1 = checkpoint_build(docs, spec, path, split_id="s1")
        assert rows1 == direct_rows
        assert (sk1.registers == direct.registers).all()
        # idempotent: same split again adds nothing
        sk2, rows2 = checkpoint_build(docs, spec, path, split_id="s1")
        assert rows2 == rows1
        # resume from cold
        sk3, rows3 = resume(spark, path)
        assert rows3 == rows1
        assert (sk3.registers == sk1.registers).all()
        lin = lineage(spark, path).collect()
        assert len(lin) >= 1
        assert all(r["rows_seen"] >= 0 for r in lin)
        # second split accumulates
        more = docs.limit(100)
        sk4, rows4 = checkpoint_build(more, spec, path, split_id="s2")
        assert rows4 == rows1 + 100


def test_resume_uses_build_fanin(spark, docs, monkeypatch):
    """A checkpoint of wide partials resumes with the fan-in
    ``build_sketch`` uses for the same spec (read from the manifest),
    not the small-blob constant."""
    from facs_spark.ops import sketch_agg
    spec = SketchSpec.make("cms", "doc_id", epsilon=1e-5)
    fanin = sketch_agg._fanin
    assert fanin(spec) < sketch_agg._FANIN, "fixture must be a wide sketch"
    calls = []
    monkeypatch.setattr(sketch_agg, "_fanin",
                        lambda s: calls.append(s) or fanin(s))
    build_sketch(docs, spec)
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "ckpt")
        checkpoint_build(docs, spec, path, split_id="s1")
        resume(spark, path)
    # build_sketch, checkpoint_build's resume, the cold resume
    assert calls == [spec] * 3


# ------------------------------------------------------------ multimodal
def test_media_plumbing(spark, docs):
    media = synth_media(docs.select("doc_id").limit(50), "doc_id")
    meta = media_metadata(media, "doc_id").collect()
    assert len(meta) == 50
    for r in meta:
        assert r["mime"] == "image/x-fake"
        assert r["nbytes"] == 8 + r["width"] * r["height"]
        assert len(r["sha1"]) == 40
    feats = image_features(media, "doc_id").collect()
    assert len(feats) == 50
    assert all(len(r["features"]) == 5 for r in feats)


def test_audio_plumbing(spark, docs):
    """Audio containers: metadata (duration from the header), windowed
    RMS/ZCR features over the fake waveform, loud stub for real
    codecs."""
    from facs_spark.ops.multimodal import (audio_features, decode_audio,
                                           synth_media)
    media = synth_media(docs.select("doc_id").limit(30), "doc_id",
                        kind="audio")
    meta = {r["doc_id"]: r for r in media_metadata(media, "doc_id").collect()}
    assert len(meta) == 30
    for r in meta.values():
        assert r["mime"] == "audio/x-fake"
        assert r["duration_ms"] > 0 and r["width"] == 0
    feats = audio_features(media, "doc_id", window_ms=32).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(meta)
    # a sine wave has positive RMS and nonzero crossing rate
    assert all(r["rms"] > 0 for r in feats)
    assert any(r["zcr"] > 0 for r in feats)
    # window count matches duration/window arithmetic
    for d, rows in by_doc.items():
        n_samples = meta[d]["duration_ms"] * 8000 // 1000
        assert len(rows) == max(1, n_samples // (8000 * 32 // 1000))
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03mp3-compressed-stream")  # needs ffmpeg
    with pytest.raises(ValueError):
        decode_audio(b"RIFFnotreal")  # malformed RIFF (no WAVE tag)


def test_decode_stub_contract():
    blob = b"FIMG" + (16).to_bytes(2, "little") + (8).to_bytes(2, "little") + b"x" * 128
    img = decode_image(blob)
    assert img.shape == (8, 16, 3)
    # PNG and baseline JPEG decode for real now — malformed streams
    # are ValueErrors; containers with no native codec stay loud
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0notajpeg")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\nnotreal")
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFX....WEBP")  # no codec behind this magic


def test_wav_codec_roundtrip_and_stdlib_parity():
    """The pure-python RIFF parser decodes REAL WAV bytes: round-trips
    the encoder, agrees bit-for-bit with CPython's stdlib ``wave``
    reader, survives unknown chunks + odd-size padding, and takes the
    first channel of interleaved stereo."""
    import io
    import struct
    import wave as stdwave

    from facs_spark.ops.multimodal import decode_wav, encode_wav, synth_samples

    samples = synth_samples(7)
    blob = encode_wav(samples, 8000)
    got, rate = decode_wav(blob)
    assert rate == 8000 and np.array_equal(got, samples)
    # stdlib wave parses our encoder's output identically
    with stdwave.open(io.BytesIO(blob)) as w:
        assert w.getframerate() == 8000 and w.getnchannels() == 1
        std = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    assert np.array_equal(std, samples)
    # chunk-walk: an unknown odd-size chunk before fmt/data must be
    # skipped with even alignment (RIFF spec)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = samples.tobytes()
    body = (b"WAVE" + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    got2, rate2 = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert rate2 == 8000 and np.array_equal(got2, samples)
    # stereo: first channel extracted
    stereo = np.empty(samples.size * 2, dtype="<i2")
    stereo[0::2], stereo[1::2] = samples, -samples
    fmt_st = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body_st = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt_st
               + b"data" + struct.pack("<I", stereo.nbytes)
               + stereo.tobytes())
    got3, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body_st)) + body_st)
    assert np.array_equal(got3, samples)
    # non-PCM stays a loud stub
    fmt_f = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float32
    body_f = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt_f
              + b"data" + struct.pack("<I", 0))
    with pytest.raises(NotImplementedError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body_f)) + body_f)


def test_bmp_codec_roundtrip():
    """The pure-python BMP parser: encoder round-trip at padded and
    unpadded widths, top-down negative-height layout, loud stub for
    compressed/paletted BMPs."""
    import struct

    from facs_spark.ops.multimodal import decode_bmp, encode_bmp
    rng = np.random.default_rng(3)
    for w, h in [(8, 5), (7, 3), (1, 1), (33, 2)]:  # 7, 33: padded rows
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    # top-down variant (negative height): the file rows — stored
    # bottom-up by the encoder, i.e. px reversed — are now read as
    # image rows directly, so the decoded image is px flipped
    px = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    blob = bytearray(encode_bmp(px))
    blob[22:26] = struct.pack("<i", -4)  # flip header to top-down
    assert np.array_equal(decode_bmp(bytes(blob)), px[::-1])
    with pytest.raises(NotImplementedError):
        bad = bytearray(encode_bmp(px))
        bad[28:30] = struct.pack("<H", 8)  # 8-bit paletted
        decode_bmp(bytes(bad))


def test_png_codec_roundtrip():
    """The pure-python PNG parser: RGB + RGBA round-trips at odd
    dimensions, ALL five filter types exercised (the encoder cycles
    them per row), Sub's mod-256 prefix-sum path, corrupt/exotic
    inputs loud."""
    import struct
    import zlib

    from facs_spark.ops.multimodal import (decode_image, decode_png,
                                           encode_png, synth_png_pixels)
    rng = np.random.default_rng(5)
    for h, w, ch in [(8, 5, 3), (7, 3, 4), (1, 1, 3), (2, 33, 4),
                     (11, 1, 3), (6, 6, 4),
                     (9, 4, 1), (5, 7, 2)]:  # grey / grey+alpha
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px)), px), (h, w, ch)
    # synth pattern: RGBA for odd ids, alpha dropped by decode_image
    px = synth_png_pixels(7)
    assert px.shape[2] == 4
    assert np.array_equal(decode_image(encode_png(px)), px[:, :, :3])
    # 16-bit depth stays a loud stub (flip IHDR depth byte + fix len)
    blob = bytearray(encode_png(synth_png_pixels(2)))
    blob[24] = 16
    with pytest.raises(NotImplementedError):
        decode_png(bytes(blob))
    # truncated pixel stream is loud, not silently short
    good = encode_png(synth_png_pixels(2))
    ihdr_end = 8 + 8 + 13 + 4
    short = zlib.compress(b"\x00" * 3)
    bad = (good[:ihdr_end]
           + struct.pack(">I", len(short)) + b"IDAT" + short
           + struct.pack(">I", zlib.crc32(b"IDAT" + short))
           + struct.pack(">I", 0) + b"IEND"
           + struct.pack(">I", zlib.crc32(b"IEND")))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(bad)
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"nope")


def test_png_indexed_color_roundtrip():
    """Indexed-color PNG (type 3): PLTE expansion at depth 8 and the
    sub-byte 1/2/4 depths (MSB-first packing, byte-padded rows at
    non-aligned widths), tRNS alpha with short-chunk opaque padding,
    and loud out-of-range guards."""
    from facs_spark.ops.multimodal import decode_png, encode_png_indexed
    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (200, 3), dtype=np.uint8)
    idx = rng.integers(0, 200, (17, 23), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png_indexed(idx, pal)),
                          pal[idx])
    trns = rng.integers(0, 256, 50, dtype=np.uint8)
    px = decode_png(encode_png_indexed(idx, pal, trns=trns))
    alpha = np.full(200, 255, np.uint8)
    alpha[:50] = trns                      # entries past tRNS: opaque
    assert px.shape == (17, 23, 4)
    assert np.array_equal(px[..., :3], pal[idx])
    assert np.array_equal(px[..., 3], alpha[idx])
    for depth in (1, 2, 4):                # 13px rows: pad mid-byte
        p = rng.integers(0, 256, (1 << depth, 3), dtype=np.uint8)
        ix = rng.integers(0, 1 << depth, (9, 13), dtype=np.uint8)
        got = decode_png(encode_png_indexed(ix, p, depth=depth))
        assert np.array_equal(got, p[ix]), depth
    with pytest.raises(ValueError, match="depth"):
        encode_png_indexed(ix, p, depth=3)
    with pytest.raises(ValueError, match="out of range"):
        encode_png_indexed(np.full((2, 2), 5, np.uint8),
                           pal[:4], depth=2)


def test_real_media_through_spark_pipeline(spark, docs):
    """End-to-end over REAL container bytes: synth real WAV + BMP
    columns, metadata parses the actual headers, and the feature
    kernels run on genuinely decoded samples/pixels (numpy reference
    check per doc)."""
    from facs_spark.ops.multimodal import (audio_features, image_features,
                                           synth_media, synth_samples)
    ids = docs.select("doc_id").limit(20)
    wav = synth_media(ids, "doc_id", kind="wav")
    meta = {r["doc_id"]: r
            for r in media_metadata(wav, "doc_id").collect()}
    assert all(r["mime"] == "audio/wav" for r in meta.values())
    for d, r in meta.items():
        assert r["duration_ms"] == synth_samples(d).size * 1000 // 8000
    feats = audio_features(wav, "doc_id", window_ms=32).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], {})[r["win_idx"]] = r
    for d, wins in by_doc.items():
        s = synth_samples(d).astype(np.float64)
        step = 256
        n_win = s.size // step
        assert len(wins) == n_win
        w0 = s[:step]
        assert wins[0]["rms"] == pytest.approx(np.sqrt((w0 * w0).mean()))
    bmp = synth_media(ids, "doc_id", kind="bmp")
    bmeta = media_metadata(bmp, "doc_id").collect()
    assert all(r["mime"] == "image/bmp" and r["width"] >= 8 for r in bmeta)
    bf = image_features(bmp, "doc_id").collect()
    assert len(bf) == 20 and all(len(r["features"]) == 5 for r in bf)


def test_dedup_clusters_and_drop(spark, docs):
    """Connected components + canonical-keep over near-dup pairs."""
    from facs_spark.ops.dedup import (dedup_clusters, drop_near_duplicates,
                                      minhash_dedup)
    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.8).cache()
    n_pairs = pairs.count()
    assert n_pairs > 0
    clusters = dedup_clusters(pairs).collect()
    by_id = {r["id"]: r["cluster_rep"] for r in clusters}
    # every edge endpoint has a rep; both ends of an edge share it
    for r in pairs.collect():
        assert by_id[r["id_a"]] == by_id[r["id_b"]]
        assert by_id[r["id_a"]] <= min(r["id_a"], r["id_b"])
    # rep is a member of its own cluster
    assert all(by_id[rep] == rep for rep in set(by_id.values()))
    kept = drop_near_duplicates(docs, "doc_id", pairs)
    n_docs = docs.count()
    n_lost = len([i for i, rep in by_id.items() if i != rep])
    assert kept.count() == n_docs - n_lost
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert set(by_id.values()) <= kept_ids


def test_clean_corpus_capstone(spark, docs):
    """The full cleaning pipeline: funnel counts are monotone, stages
    drop what ground truth says they should."""
    from facs_spark.ops.pipeline import clean_corpus
    ref = docs.filter(F.col("source") == "src0")
    cleaned, stats = clean_corpus(
        docs, ref, min_quality=0.3, neardup_threshold=0.8,
        contamination_tole=0.4)
    s = stats.collect()[0]
    assert (s["n_input"] >= s["n_after_quality"] >= s["n_after_exact_dedup"]
            >= s["n_after_neardup"] >= s["n_after_contamination"])
    assert s["n_input"] == docs.count()
    assert s["dropped_neardup"] > 0, "planted near-dups must be dropped"
    assert s["dropped_contaminated"] > 0, "src0-like pages must be screened"
    n_clean = cleaned.count()
    assert n_clean == s["n_after_contamination"] > 0
    assert set(cleaned.columns) == set(docs.columns)
    # with the optional per-lang cap stage, the funnel extends and the
    # per-group ceiling holds on the survivors
    capped, stats2 = clean_corpus(
        docs, ref, min_quality=0.3, neardup_threshold=0.8,
        contamination_tole=0.4, cap_col="lang", cap=10)
    s2 = stats2.collect()[0]
    assert s2["n_after_cap"] <= s2["n_after_contamination"]
    assert s2["dropped_capped"] == s2["n_after_contamination"] - s2["n_after_cap"]
    per_lang = capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()
    assert per_lang and all(r["n"] <= 10 for r in per_lang)
    # with split_weights the survivors additionally carry a total,
    # disjoint train/val/test assignment
    split_df, _ = clean_corpus(
        docs, ref, min_quality=0.3, neardup_threshold=0.8,
        contamination_tole=0.4,
        split_weights={"train": 0.7, "val": 0.3})
    rows = split_df.select("split").groupBy("split").count().collect()
    assert {r["split"] for r in rows} <= {"train", "val"}
    assert sum(r["count"] for r in rows) == n_clean


def test_cap_per_group_sampling(spark, docs):
    """Per-source caps: ≤cap rows per group, small groups pass whole,
    and the selection is a pure function of (seed, id) — identical
    across partitionings (the reproducibility contract)."""
    from facs_spark.ops.sampling import cap_per_group
    capped = cap_per_group(docs, "lang", "doc_id", cap=7, seed=3)
    sizes = {r["lang"]: r["n"] for r in
             capped.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    orig = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    for lang, n in sizes.items():
        assert n == min(7, orig[lang])
    a = {(r["lang"], r["doc_id"]) for r in capped.collect()}
    b = {(r["lang"], r["doc_id"]) for r in
         cap_per_group(docs.repartition(13), "lang", "doc_id",
                       cap=7, seed=3).collect()}
    assert a == b, "selection must not depend on partitioning"
    c = {(r["lang"], r["doc_id"]) for r in
         cap_per_group(docs, "lang", "doc_id", cap=7, seed=4).collect()}
    assert a != c, "a different seed must pick a different sample"


def test_deterministic_shuffle_stable(spark, docs):
    """The seeded permutation is identical across reruns and
    partitionings, and different per seed."""
    from facs_spark.ops.sampling import deterministic_shuffle
    o1 = [r["doc_id"] for r in
          deterministic_shuffle(docs, "doc_id", seed=1).collect()]
    o2 = [r["doc_id"] for r in
          deterministic_shuffle(docs.repartition(17), "doc_id",
                                seed=1).collect()]
    o3 = [r["doc_id"] for r in
          deterministic_shuffle(docs, "doc_id", seed=2).collect()]
    assert o1 == o2
    assert o1 != o3
    assert sorted(o1) == sorted(o3)


def test_stratified_sample_exact_and_partition_invariant(spark, docs):
    """Selection is a pure function of (seed, id): identical row sets
    across partitionings and repeats; per-stratum keep rates land
    within binomial bounds; strata absent from the dict are dropped;
    no shuffle appears in the plan (map-side filter)."""
    from facs_spark.ops.sampling import stratified_sample
    fr = {"en": 0.5, "de": 0.2}
    a = {(r["lang"], r["doc_id"]) for r in
         stratified_sample(docs, "lang", fr, "doc_id", seed=3).collect()}
    b = {(r["lang"], r["doc_id"]) for r in
         stratified_sample(docs.repartition(13), "lang", fr, "doc_id",
                           seed=3).collect()}
    assert a == b and a
    langs = {l for l, _ in a}
    assert langs <= {"en", "de"}, "unlisted strata must be dropped"
    for lang, frac in fr.items():
        n_all = docs.filter(F.col("lang") == lang).count()
        n_kept = sum(1 for l, _ in a if l == lang)
        sd = (n_all * frac * (1 - frac)) ** 0.5
        assert abs(n_kept - n_all * frac) < 5 * sd + 1, (lang, n_kept, n_all)
    plan = stratified_sample(docs, "lang", 0.3, "doc_id") \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
    assert "Exchange" not in plan


def test_hash_split_partitions_and_append_stability(spark, docs):
    """Every row gets exactly one split; proportions track the
    weights; and appending new rows NEVER moves an existing row
    between splits (the property a random split lacks)."""
    from facs_spark.ops.sampling import hash_split
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = hash_split(docs, "doc_id", w, seed=1)
    n = docs.count()
    counts = {r["split"]: r["n"] for r in
              full.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert sum(counts.values()) == n
    for name, frac in w.items():
        sd = (n * frac * (1 - frac)) ** 0.5
        assert abs(counts.get(name, 0) - n * frac) < 5 * sd + 1, name
    # append stability: splitting HALF the table assigns the same
    # splits those rows get in the full table
    half = docs.filter(F.col("doc_id") % 2 == 0)
    sub = {r["doc_id"]: r["split"] for r in
           hash_split(half, "doc_id", w, seed=1)
           .select("doc_id", "split").collect()}
    ref = {r["doc_id"]: r["split"] for r in
           full.select("doc_id", "split").collect()}
    assert all(ref[k] == v for k, v in sub.items())


def test_repetition_ratio_kernel_semantics(spark):
    """Constructed docs with known window counts: a perfectly
    repetitive doc scores high, an all-distinct doc scores 0, and the
    short/empty edge cases follow the shingle kernel's conventions
    (0 tokens → 0/0/0.0; 0<tokens<n → one whole-run shingle)."""
    from facs_spark.ops.textstats import repetition_ratio
    rows = [
        (1, "a b c " * 20),          # 60 tokens, 58 windows, few distinct
        (2, " ".join(f"w{i}" for i in range(30))),  # all distinct
        (3, ""),                      # empty
        (4, "one two"),               # short: 1 shingle
        (5, None),                    # null text == empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           repetition_ratio(df, "doc_id", "text", shingle_n=3).collect()}
    assert out[1]["total_shingles"] == 58
    assert out[1]["distinct_shingles"] == 3  # abc, bca, cab
    assert out[1]["repetition"] > 0.9
    assert out[2]["total_shingles"] == 28
    assert out[2]["distinct_shingles"] == 28
    assert out[2]["repetition"] == 0.0
    assert tuple(out[3][k] for k in
                 ("total_shingles", "distinct_shingles", "repetition")) \
        == (0, 0, 0.0)
    assert tuple(out[4][k] for k in
                 ("total_shingles", "distinct_shingles")) == (1, 1)
    assert tuple(out[5][k] for k in
                 ("total_shingles", "distinct_shingles", "repetition")) \
        == (0, 0, 0.0)


def test_minhash_signatures_all_blank_batch(spark):
    """A batch of only empty/whitespace/null docs must yield zero
    signature rows, not crash Arrow serialization (the empty buckets
    column must be object-dtyped — a plain [] infers float64, which
    pyarrow cannot convert to array<long>)."""
    from facs_spark.ops.dedup import minhash_dedup, minhash_signatures
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, None)],
                               "doc_id long, text string")
    assert minhash_signatures(df, "doc_id", "text").count() == 0
    assert minhash_dedup(df, "doc_id", "text").count() == 0


def test_weighted_sample_rates_and_determinism(spark, docs):
    """Keep-rate tracks the per-row probability (binomial bounds over
    probability strata); selection is partitioning-independent; p≥1
    keeps everything; p≤0 keeps nothing."""
    from facs_spark.ops.sampling import weighted_sample
    prob = (F.col("doc_id") % 10) / F.lit(10.0)
    kept = {r["doc_id"] for r in
            weighted_sample(docs, prob, "doc_id", seed=2).collect()}
    kept2 = {r["doc_id"] for r in
             weighted_sample(docs.repartition(11), prob, "doc_id",
                             seed=2).collect()}
    assert kept == kept2
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for d in range(10):
        stratum = [i for i in ids if i % 10 == d]
        got = sum(1 for i in stratum if i in kept)
        p = d / 10.0
        sd = (len(stratum) * p * (1 - p)) ** 0.5
        assert abs(got - len(stratum) * p) <= 5 * sd + 1, (d, got)
    n = docs.count()
    assert weighted_sample(docs, F.lit(1.0), "doc_id").count() == n
    assert weighted_sample(docs, F.lit(2.5), "doc_id").count() == n
    assert weighted_sample(docs, F.lit(0.0), "doc_id").count() == 0
    assert weighted_sample(docs, F.lit(-3.0), "doc_id").count() == 0


def test_weighted_sample_nan_drops(spark, docs):
    """A NaN/null probability must DROP the row, not clamp to 1."""
    from facs_spark.ops.sampling import weighted_sample
    nan_prob = F.when(F.col("doc_id") % 2 == 0,
                      F.lit(float("nan"))).otherwise(F.lit(None))
    assert weighted_sample(docs, nan_prob, "doc_id").count() == 0


def test_priority_sample_matches_python_reference(spark, docs):
    """Value-level replay: the sampled ids AND the Horvitz–Thompson
    adjusted weights equal an independent hashlib/python
    implementation of Duffield-Lund-Thorup priority sampling (same
    md5₅₂ draw, same τ), and the selection is partitioning-
    invariant.  n ≤ k degrades to pass-through with est == w."""
    import hashlib

    from facs_spark.ops.sampling import priority_sample

    k, seed = 48, 11
    base = docs.select("doc_id", "n_chars")
    got = {(r["doc_id"], r["est_weight"])
           for r in priority_sample(base, "doc_id", "n_chars",
                                    k=k, seed=seed).collect()}
    got_re = {(r["doc_id"], r["est_weight"])
              for r in priority_sample(base.repartition(13), "doc_id",
                                       "n_chars", k=k,
                                       seed=seed).collect()}
    assert got == got_re

    rows = [(r["doc_id"], float(r["n_chars"])) for r in base.collect()
            if r["n_chars"] is not None and r["n_chars"] > 0]

    def pri(i, w):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:13]
        return w / ((int(h, 16) + 1) / 2.0 ** 52)

    ranked = sorted(((pri(i, w), i, w) for i, w in rows),
                    key=lambda t: (-t[0], t[1]))
    tau = ranked[k][0] if len(ranked) > k else 0.0
    want = {(i, max(w, tau)) for _, i, w in ranked[:k]}
    assert got == want

    small = base.limit(7)
    out = priority_sample(small, "doc_id", "n_chars", k=k).collect()
    assert len(out) == 7
    assert all(r["est_weight"] == float(r["n_chars"]) for r in out)


def test_priority_sample_unbiased_subset_sums(spark):
    """E[Σ est over sample ∩ S] = Σ w over S (Duffield et al. Thm 1):
    across 24 seeds on a skewed synthetic population, the mean
    subset-sum estimate lands within 4 standard errors of the truth
    for the whole population and for a fixed 1-in-3 subset."""
    from facs_spark.ops.sampling import priority_sample

    pop = spark.range(600).select(
        F.col("id"),
        (F.col("id") % 7 * F.col("id") % 97 + F.lit(1.0)).alias("w"))
    pop = pop.cache()
    truth_all = pop.agg(F.sum("w")).first()[0]
    truth_sub = pop.filter(F.col("id") % 3 == 0).agg(F.sum("w")).first()[0]
    est_all, est_sub = [], []
    for s in range(24):
        rows = priority_sample(pop, "id", "w", k=80, seed=s).collect()
        est_all.append(sum(r["est_weight"] for r in rows))
        est_sub.append(sum(r["est_weight"] for r in rows
                           if r["id"] % 3 == 0))
    import statistics
    for est, truth in ((est_all, truth_all), (est_sub, truth_sub)):
        m = statistics.mean(est)
        se = statistics.stdev(est) / len(est) ** 0.5
        assert abs(m - truth) <= 4 * se + 1e-9, (m, truth, se)
    pop.unpersist()


def test_priority_sample_plan_is_take_ordered(spark, docs):
    """The top-(k+1) runs as TakeOrderedAndProject (per-partition
    heaps + driver merge) — no range-partitioned global sort
    exchange anywhere in the plan."""
    from facs_spark.ops.sampling import priority_sample

    plan = (priority_sample(docs.select("doc_id", "n_chars"),
                            "doc_id", "n_chars", k=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_bm25_topk_semantics(spark):
    """bm25_topk: rarity and frequency both push rank the right way —
    a doc matching the rare term outranks one matching the common
    term; more occurrences beat fewer at equal length; docs with no
    query term never appear; k truncates."""
    from facs_spark.ops.textstats import bm25_topk
    rows = [
        (1, "rare common filler filler"),        # rare + common
        (2, "common filler filler filler"),      # common once
        (3, "common common filler filler"),      # common twice
        (4, "filler filler filler filler"),      # no match
        (5, "rare rare filler filler"),          # rare twice — top
    ] + [(10 + i, "filler pad pad pad") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["rare", "common"], k=4).collect()
    ids = [r.doc_id for r in out]
    assert len(out) == 4 and 4 not in ids
    # tf saturates (k1): matching BOTH terms beats a repeated single
    # term; the rare term outweighs the common one; tf=2 beats tf=1
    assert ids == [1, 5, 3, 2]
    assert [r.rank for r in out] == [1, 2, 3, 4]
    scores = [r.score_e4 for r in out]
    assert scores == sorted(scores, reverse=True)
    # Case/punctuation-insensitive tokenization
    df2 = spark.createDataFrame([(1, "RARE, rare; filler!")],
                                "doc_id long, text string")
    assert bm25_topk(df2, ["Rare"], k=1).collect()[0].doc_id == 1


# ------------------------------------------------- substring dedup
def test_duplicate_spans_fixture(spark):
    """Cross-doc + within-doc duplicated runs produce merged maximal
    spans; span positions are 1-based inclusive token indices."""
    from facs_spark.ops.dedup import duplicate_spans

    rep = "the quick brown fox jumps over the lazy dog today"  # 10 toks
    df = spark.createDataFrame([
        (1, "alpha beta " + rep + " gamma delta"),
        (2, "one two three " + rep + " four"),
        (3, "x " + rep + " y " + rep + " z"),   # repeated WITHIN a doc
        (4, "totally unique words nothing repeated here at all right"),
    ], "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
           for r in duplicate_spans(df, min_tokens=8).collect()}
    # a 10-token repeat at L=8 is 3 overlapping windows -> one span
    assert got == {(1, 3, 12, 3), (2, 4, 13, 3),
                   (3, 2, 11, 3), (3, 13, 22, 3)}


def test_duplicate_spans_matches_bruteforce(spark):
    """Exhaustive python oracle on a seeded corpus: every >=L-token
    window occurring >=2 times is marked, islands merge, nothing else
    appears."""
    import numpy as np

    from facs_spark.ops.dedup import duplicate_spans

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(rng.choice(vocab, 12))
    docs = []
    for d in range(40):
        toks = list(rng.choice(vocab, rng.integers(5, 40)))
        if d % 3 == 0:  # plant the boilerplate in a third of docs
            at = int(rng.integers(0, len(toks) + 1))
            toks[at:at] = boiler.split()
        docs.append((d, " ".join(toks)))
    L = 6
    # brute force: gram string -> [(doc, start)]
    from collections import defaultdict
    occ = defaultdict(list)
    for d, text in docs:
        t = text.split()
        for i in range(len(t) - L + 1):
            occ[" ".join(t[i:i + L])].append((d, i + 1))
    marked = defaultdict(list)
    for g, places in occ.items():
        if len(places) >= 2:
            for d, s in places:
                marked[d].append((s, s + L - 1))
    want = set()
    for d, ivs in marked.items():
        ivs.sort()
        cs, ce = ivs[0]
        for s, e in ivs[1:]:
            if s <= ce + 1:
                ce = max(ce, e)
            else:
                want.add((d, cs, ce))
                cs, ce = s, e
        want.add((d, cs, ce))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans(df, min_tokens=L).collect()}
    assert got == want


def test_remove_duplicate_spans(spark):
    """Duplicated regions vanish; clean docs pass through (whitespace-
    normalized); re-running the detector on the cleaned text finds no
    surviving duplicated window of the original grams."""
    from facs_spark.ops.dedup import duplicate_spans, remove_duplicate_spans

    rep = "the quick brown fox jumps over the lazy dog today"
    df = spark.createDataFrame([
        (1, "alpha beta " + rep + " gamma delta"),
        (2, "one  two   three " + rep + " four"),  # ragged whitespace
        (3, "totally unique words nothing repeated here at all right"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in remove_duplicate_spans(df, min_tokens=8).collect()}
    assert out[1] == "alpha beta gamma delta"
    assert out[2] == "one two three four"          # normalized join
    assert out[3] == "totally unique words nothing repeated here at all right"
    clean = spark.createDataFrame(list(out.items()),
                                  "doc_id long, text string")
    assert duplicate_spans(clean, min_tokens=8).count() == 0


def test_duplicate_spans_short_and_empty_docs(spark):
    """Docs shorter than L tokens (and empty/whitespace-only text)
    contribute no windows and never crash the sequence guard."""
    from facs_spark.ops.dedup import duplicate_spans

    df = spark.createDataFrame([
        (1, ""), (2, "   "), (3, "a b c"), (4, "a b c"),
    ], "doc_id long, text string")
    assert duplicate_spans(df, min_tokens=8).count() == 0
    # at L=3 the two 3-token twins ARE one full-doc span each
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans(df, min_tokens=3).collect()}
    assert got == {(3, 1, 3), (4, 1, 3)}


# --------------------------------------------- url curation / lines
def test_canonicalize_url_rules(spark):
    """Each documented rule: case, default ports, trailing slash,
    tracking-param drop, param sort, fragment drop; non-default ports
    and inner duplicate slashes preserved."""
    from facs_spark.ops.urls import with_canonical_url

    cases = [
        ("HTTP://Example.COM:80/path/?b=2&utm_source=x&a=1#frag",
         "http://example.com/path?a=1&b=2"),
        ("http://example.com/path?a=1&b=2",
         "http://example.com/path?a=1&b=2"),
        ("HTTPS://Sub.Example.com:443/", "https://sub.example.com/"),
        ("https://sub.example.com", "https://sub.example.com/"),
        ("http://h.io:8080/a//b/?z=1&ref=tw&",
         "http://h.io:8080/a//b?z=1"),
        ("http://h.io/deep/path/", "http://h.io/deep/path"),
        ("https://x.org/?gclid=1&fbclid=2&msclkid=3", "https://x.org/"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)],
        "id long, url string")
    got = {r["id"]: r["canonical_url"]
           for r in with_canonical_url(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])


def test_host_and_registrable_domain(spark):
    from facs_spark.ops.urls import with_canonical_url

    df = spark.createDataFrame([
        (1, "https://A.B.Example.COM:8443/x"),
        (2, "http://localhost/x"),
    ], "id long, url string")
    rows = {r["id"]: r for r in with_canonical_url(df).collect()}
    assert rows[1]["host"] == "a.b.example.com"
    assert rows[1]["domain"] == "example.com"
    assert rows[2]["host"] == "localhost"
    assert rows[2]["domain"] == "localhost"


def test_line_dedup_first_occurrence_and_blanks(spark):
    """A repeated line survives only at its first (doc_id, line_no);
    blank lines pass through (they carry structure); a doc of only
    repeats comes back with what's left."""
    from facs_spark.ops.urls import line_dedup

    df = spark.createDataFrame([
        (1, "alpha\nshared line one\nbeta"),
        (2, "shared line one\ngamma\n\ndelta"),
        (3, "gamma\nshared line one\nepsilon"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_dedup(df).collect()}
    assert got[1]["clean_text"] == "alpha\nshared line one\nbeta"
    assert got[2]["clean_text"] == "gamma\n\ndelta"   # blank kept
    assert got[3]["clean_text"] == "epsilon"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (4, 3)
    assert (got[3]["n_lines"], got[3]["n_kept"]) == (3, 1)


def test_line_dedup_matches_bruteforce(spark):
    """Python oracle on a seeded multi-line corpus with planted
    boilerplate lines."""
    import numpy as np

    from facs_spark.ops.urls import line_dedup

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(40)]
    boiler = ["cookie notice accept all", "subscribe to our newsletter"]
    docs = []
    for d in range(30):
        lines = [" ".join(rng.choice(vocab, rng.integers(2, 6)))
                 for _ in range(rng.integers(1, 6))]
        if d % 2 == 0:
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         boiler[d % len(boiler)])
        docs.append((d, "\n".join(lines)))
    seen, want = set(), {}
    for d, text in docs:
        kept = []
        for ln in text.split("\n"):
            if ln.strip() == "" or ln not in seen:
                kept.append(ln)
                if ln.strip() != "":
                    seen.add(ln)
        want[d] = "\n".join(kept)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["clean_text"]
           for r in line_dedup(df).collect()}
    assert got == want


def test_decontaminate_flags_eval_and_near_copies(spark):
    """Eval docs' windows contaminate themselves, verbatim copies, and
    docs embedding an eval passage; clean docs stay clean; the
    min_overlap_windows threshold gates borderline overlap."""
    from facs_spark.ops.pipeline import decontaminate

    passage = " ".join(f"e{i}" for i in range(13))  # one 13-gram
    train = spark.createDataFrame([
        (1, passage),                                # verbatim eval doc
        (2, "lead in " + passage + " trailing words"),  # embeds it
        (3, " ".join(f"c{i}" for i in range(20))),   # clean
        (4, "short doc"),                            # < 13 tokens
    ], "doc_id long, text string")
    eval_set = spark.createDataFrame([(99, passage)],
                                     "doc_id long, text string")
    got = {r["doc_id"]: (r["overlap_windows"], r["contaminated"])
           for r in decontaminate(train, eval_set).collect()}
    assert got[1] == (1, True)
    assert got[2][0] >= 1 and got[2][1]
    assert got[3] == (0, False)
    assert got[4] == (0, False)
    # raising the window threshold un-flags single-window overlap
    strict = {r["doc_id"]: r["contaminated"]
              for r in decontaminate(train, eval_set,
                                     min_overlap_windows=2).collect()}
    assert strict[1] is False and strict[3] is False


def test_decontaminate_bloom_prefilter_is_exact(spark):
    """The Bloom-prefiltered path (map-side prune before the
    semi-join shuffle — the beyond-broadcast eval-side shape) must be
    bit-identical to the plain path: the exact join removes every
    Bloom false positive."""
    from facs_spark.ops.pipeline import decontaminate

    words = [f"w{i}" for i in range(400)]
    train = spark.createDataFrame(
        [(i, " ".join(words[i % 40:i % 40 + 30])) for i in range(80)],
        "doc_id long, text string")
    eval_set = spark.createDataFrame(
        [(900, " ".join(words[5:25])), (901, " ".join(words[200:230]))],
        "doc_id long, text string")
    plain = sorted(map(tuple, decontaminate(train, eval_set).collect()))
    bloom = sorted(map(tuple, decontaminate(
        train, eval_set, bloom_prefilter=True).collect()))
    assert bloom == plain
    assert any(r[2] for r in plain) and not all(r[2] for r in plain)


def test_semantic_dedup_planted_groups(spark):
    """Planted duplicate groups around distinct anchors: exactly one
    survivor (the min id) per group; singletons untouched; assignment
    respects the nearest anchor."""
    import numpy as np

    from facs_spark.ops.similarity import semantic_dedup

    rng = np.random.default_rng(5)
    dim = 16
    anchors = rng.normal(size=(3, dim))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows = []
    vid = 0
    for a in anchors:  # anchors themselves are ids 0..2
        rows.append((vid, a.astype(float).tolist())); vid += 1
    expect_dropped = set()
    for g, a in enumerate(anchors):  # a duplicate group per anchor,
        # placed at cosine ~0.8 from it (inside its cell, but NOT a
        # near-dup of the anchor itself)
        r = rng.normal(size=dim)
        r -= (r @ a) * a
        r /= np.linalg.norm(r)
        base = 0.8 * a + 0.6 * r
        first = vid
        for c in range(3):
            v = base + 1e-4 * rng.normal(size=dim)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            if vid != first:
                expect_dropped.add(vid)
            vid += 1
    for _ in range(5):  # singletons far from each other
        v = rng.normal(size=dim)
        rows.append((vid, (v / np.linalg.norm(v)).tolist())); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(df, "vec_id", "embedding", n_clusters=3,
                          threshold=0.95).collect()}
    assert len(out) == vid
    dropped = {v for v, r in out.items() if not r["kept"]}
    assert dropped == expect_dropped
    # group members share their anchor's cluster
    for g in range(3):
        cl = {out[3 + 3 * g + c]["cluster"] for c in range(3)}
        assert len(cl) == 1 and cl == {out[g]["cluster"]}
    # the published configuration — real k-means anchors — must make
    # the same keep/drop decisions on well-separated planted groups
    # (near-identical twins are co-clustered under ANY sane anchors)
    km = {r["vec_id"]: r for r in
          semantic_dedup(df, "vec_id", "embedding", n_clusters=3,
                         threshold=0.95,
                         anchor_mode="kmeans").collect()}
    assert len(km) == vid
    assert {v for v, r in km.items() if not r["kept"]} == expect_dropped
    with pytest.raises(ValueError):
        semantic_dedup(df, "vec_id", "embedding",
                       anchor_mode="medoids")


def test_semantic_dedup_blockwise_matches_full(spark):
    """The blockwise pairwise pass equals the one-shot matrix rule."""
    import numpy as np

    from facs_spark.ops.similarity import semantic_dedup

    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(200, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    tau = 0.6
    small = semantic_dedup(df, "vec_id", "embedding", n_clusters=1,
                           threshold=tau, block=16)
    # python reference on float32-rounded vectors (the table dtype)
    m = vecs.astype(np.float32).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    S = m @ m.T
    want = {j for j in range(200)
            if any(S[i, j] >= tau for i in range(j))}
    got = {r["vec_id"] for r in small.collect() if not r["kept"]}
    assert got == want


def test_rebalance_sources_hits_targets(spark):
    """Output proportions land within sampling noise of the targets,
    the binding group keeps ~everything, and the selection replays as
    a pure function of (seed, id)."""
    from facs_spark.ops.sampling import rebalance_sources

    rows = [(i, "en" if i % 10 < 8 else ("de" if i % 10 < 9 else "sv"))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out, fr = rebalance_sources(df, "lang", "doc_id",
                                {"en": 0.4, "de": 0.3, "sv": 0.3},
                                seed=1, return_fractions=True)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    # binding group: sv (500 rows / 0.3 share -> N ~ 1667)
    assert fr["sv"] == 1.0 and got["sv"] == 500
    total = sum(got.values())
    for lang, share in {"en": 0.4, "de": 0.3, "sv": 0.3}.items():
        assert abs(got[lang] / total - share) < 0.05, (lang, got)
    # deterministic replay
    again = rebalance_sources(df.repartition(7), "lang", "doc_id",
                              {"en": 0.4, "de": 0.3, "sv": 0.3},
                              seed=1)
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0


def test_temperature_rebalance_smooths_toward_uniform(spark):
    """α=0.5 shares follow sqrt(n): the low-resource group's output
    share rises above its natural share, the binding group keeps
    everything, α=1 reproduces the natural mixture (no-op), and the
    precomputed-counts path equals the recount path."""
    import math

    from facs_spark.ops.sampling import temperature_rebalance

    rows = [(i, "en" if i % 10 < 8 else ("de" if i % 10 < 9 else "sv"))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out, fr = temperature_rebalance(df, "lang", "doc_id", alpha=0.5,
                                    seed=2, return_fractions=True)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    # sv (500 rows) is binding: smallest n/sqrt(n); keeps everything
    # (the fraction computes as 1 − ulp: t·(n/t)/n round-trips through
    # three roundings — the oracle replays the identical expression,
    # so the threshold still keeps every row, as asserted next)
    assert fr["sv"] > 1.0 - 1e-12 and got["sv"] == 500
    total = sum(got.values())
    n = {"en": 4000, "de": 500, "sv": 500}
    z = sum(math.sqrt(v) for v in n.values())
    for lang in n:
        want = math.sqrt(n[lang]) / z
        assert abs(got[lang] / total - want) < 0.05, (lang, got)
    # sv's smoothed share beats its natural 10%
    assert got["sv"] / total > 0.15
    # α=1: natural mixture → every fraction 1.0 (nothing thins)
    _, fr1 = temperature_rebalance(df, "lang", "doc_id", alpha=1.0,
                                   seed=2, return_fractions=True)
    assert all(v == 1.0 for v in fr1.values())


def test_rebalance_sources_missing_group_raises(spark):
    from facs_spark.ops.sampling import rebalance_sources
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="absent"):
        rebalance_sources(df, "lang", "doc_id", {"en": 0.5, "xx": 0.5})


def test_remove_duplicate_spans_tab_leading_text(spark):
    """Review regression: java \\s+ split with space-only trim()
    produced a leading empty token for docs starting with tab/newline,
    shifting every index vs the byte kernel's positions and removing
    the wrong tokens.  The rebuild now splits on the kernel's exact
    whitespace set and drops empty tokens."""
    from facs_spark.ops.dedup import duplicate_spans, remove_duplicate_spans

    rep = "the quick brown fox jumps over the lazy dog today"
    df = spark.createDataFrame([
        (1, "\talpha beta " + rep + " gamma"),   # leading tab
        (2, "\n" + rep + " omega"),              # leading newline
        (3, "x\x1cy " + rep + " z"),             # \x1C is WS in kernel
    ], "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in remove_duplicate_spans(df, min_tokens=8).collect()}
    assert out[1] == "alpha beta gamma"
    assert out[2] == "omega"
    assert out[3] == "x y z"
    clean = spark.createDataFrame(list(out.items()),
                                  "doc_id long, text string")
    assert duplicate_spans(clean, min_tokens=8).count() == 0


def test_semantic_dedup_empty_input(spark):
    """Review regression: an empty corpus returned a numpy axis error
    instead of an empty (id, cluster, kept) frame."""
    from facs_spark.ops.similarity import semantic_dedup
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = semantic_dedup(df, "vec_id", "embedding")
    assert out.count() == 0
    assert out.columns == ["vec_id", "cluster", "kept"]


def test_rebalance_sources_zero_targets_raise(spark):
    """Review regression: empty / all-zero targets raised a bare
    `min() arg is an empty sequence`."""
    from facs_spark.ops.sampling import rebalance_sources
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="share > 0"):
        rebalance_sources(df, "lang", "doc_id", {"en": 0.0})
    with pytest.raises(ValueError, match="share > 0"):
        rebalance_sources(df, "lang", "doc_id", {})


# ----------------------------------------------------- PII scrubbing
def test_scrub_pii_redacts_and_counts(spark):
    from facs_spark.ops.scrub import scrub_pii
    rows = [
        (1, "mail bob.smith+x@Example.co.uk now"),
        (2, "call 415-555-0199 or 415.555.0199"),
        (3, "intl +46701234567 ok"),
        (4, "srv at 192.168.0.1 and 10.0.0.255"),
        (5, "clean text, no pii at all"),
        (6, "mix a@b.io 555-123-4567 +4912345678 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["text"] == "mail <EMAIL> now"
    assert out[1]["pii_email"] == 1
    assert out[2]["text"] == "call <PHONE> or <PHONE>"
    assert out[2]["pii_phone_us"] == 2
    assert out[3]["text"] == "intl <PHONE> ok"
    assert out[3]["pii_phone_e164"] == 1
    assert out[4]["text"] == "srv at <IP> and <IP>"
    assert out[4]["pii_ipv4"] == 2
    assert out[5]["text"] == rows[4][1]
    assert all(out[5][f"pii_{k}"] == 0
               for k in ("email", "phone_us", "phone_e164", "ipv4"))
    assert out[6]["text"] == "mix <EMAIL> <PHONE> <PHONE> <IP>"


def test_scrub_pii_idempotent_and_order(spark):
    from facs_spark.ops.scrub import scrub_pii
    # dotted US phone must NOT be eaten by the IPv4 pattern
    df = spark.createDataFrame(
        [(1, "x 555.123.4567 y a@b.cc")], "doc_id long, text string")
    once = scrub_pii(df).collect()[0]
    assert once["text"] == "x <PHONE> y <EMAIL>"
    again = scrub_pii(
        spark.createDataFrame([(1, once["text"])],
                              "doc_id long, text string")).collect()[0]
    assert again["text"] == once["text"]
    assert all(again[c] == 0 for c in again.asDict() if c.startswith("pii_"))


# ------------------------------------------------------- gopher rules
def test_gopher_rules_each_rule_fires(spark):
    from facs_spark.ops.textstats import gopher_rules
    good = ("the quick brown fox jumps over a lazy dog and that dog "
            "naps with some friends in the warm sun ") * 5  # >50 words
    rows = [
        (1, good),
        (2, "too short"),                               # word count
        (3, ("## " * 60) + good),                       # symbol ratio
        (4, "\n".join(["- b"] * 60) + "\n" + good),
        (5, good + ("2 4 8 16 32 64 " * 30)),           # alpha ratio
        (6, " ".join(["zq"] * 80)),                     # stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["keep"] and out[2]["g_words"] == 2
    assert not out[3]["keep"] and out[3]["g_symbol_ratio"] > 0.1
    assert not out[4]["keep"] and out[4]["g_bullet_ratio"] > 0.9
    assert not out[5]["keep"] and out[5]["g_alpha_ratio"] < 0.8
    assert not out[6]["keep"] and out[6]["g_stopwords"] < 2
    # ellipsis rule: >30% of lines end with ...
    ell = "\n".join(["wait..."] * 40) + "\n" + good
    r = gopher_rules(spark.createDataFrame(
        [(7, ell)], "doc_id long, text string")).collect()[0]
    assert not r["keep"] and r["g_ellipsis_ratio"] > 0.3


def test_gopher_rules_empty_text(spark):
    from facs_spark.ops.textstats import gopher_rules
    r = gopher_rules(spark.createDataFrame(
        [(1, "")], "doc_id long, text string")).collect()[0]
    assert r["g_words"] == 0 and not r["keep"]


# -------------------------------------------------------- LM scoring
def test_lm_doc_score_exact_values(spark):
    from facs_spark.ops.textstats import lm_doc_score
    # corpus: N=6 tokens, V=3; hand-check one doc
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c c")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_doc_score(df, alpha=0.5).collect()}
    import math
    denom = 6 + 0.5 * 3
    exp1 = (2 * math.log(2.5 / denom) + math.log(2.5 / denom)) / 3
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["lm_score"] - round(exp1, 6)) < 1e-9


def test_token_entropy_exact_values(spark):
    """Hand-checked entropies: uniform tokens hit ln(k); a constant
    doc has entropy 0 (dropped by keep); empty docs emit no row."""
    import math

    from facs_spark.ops.textstats import token_entropy
    df = spark.createDataFrame(
        [(1, "a b c d"),            # uniform over 4 → ln(4)
         (2, "x x x x x"),          # constant → 0
         (3, "a a b"),              # 2/3,1/3 mix
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           token_entropy(df, min_entropy=1.0).collect()}
    assert abs(out[1]["entropy"] - round(math.log(4), 6)) < 1e-9
    assert out[1]["keep"] is True
    assert out[2]["entropy"] == 0.0 and out[2]["keep"] is False
    exp3 = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(out[3]["entropy"] - round(exp3, 6)) < 1e-9
    assert 4 not in out
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 5


def test_lm_doc_score_bigram_exact_values(spark):
    """Hand-checked bigram scores on a 2-doc corpus, plus the edge
    conventions: <2-token docs emit no row; repeated bigrams count
    per occurrence; extra spaces don't create tokens."""
    import math

    from facs_spark.ops.textstats import lm_doc_score_bigram
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b  c c"), (3, "solo"), (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           lm_doc_score_bigram(df, alpha=0.5).collect()}
    # corpus unigrams: a=2, b=2, c=2, solo=1 → V=4
    # bigrams: (a,a)=1 (a,b)=1 (b,c)=1 (c,c)=1
    V = 4

    def lp(cb, cu):
        return math.log((cb + 0.5) / (cu + 0.5 * V))

    exp1 = (lp(1, 2) + lp(1, 2)) / 2          # (a,a), (a,b)
    exp2 = (lp(1, 2) + lp(1, 2)) / 2          # (b,c), (c,c)
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["lm2_score"] - round(exp1, 6)) < 1e-9
    assert abs(out[2]["lm2_score"] - round(exp2, 6)) < 1e-9
    assert 3 not in out and 4 not in out      # no bigrams → no row
    # a doc repeating a common bigram outscores one of rare pairs
    df2 = spark.createDataFrame(
        [(i, "x y") for i in range(10)] + [(99, "p q")],
        "doc_id long, text string")
    s = {r["doc_id"]: r["lm2_score"]
         for r in lm_doc_score_bigram(df2).collect()}
    assert s[0] > s[99]


def test_lm_doc_score_cms_tracks_exact(spark, docs):
    from facs_spark.ops.textstats import lm_doc_score, lm_doc_score_cms
    sub = docs.limit(200)
    exact = {r["doc_id"]: r["lm_score"]
             for r in lm_doc_score(sub).collect()}
    approx = {r["doc_id"]: r["lm_score"]
              for r in lm_doc_score_cms(sub, epsilon=1e-5).collect()}
    assert set(exact) == set(approx)
    # CMS only OVERestimates counts; with eps·N tiny vs true counts,
    # per-doc mean log-prob error stays well under the loose bound
    diffs = [abs(exact[k] - approx[k]) for k in exact]
    assert max(diffs) < 0.05
    # overestimates ⇒ approx score ≥ exact score minus fp noise, and
    # vocab estimate error can push either way only slightly
    assert sum(d > 1e-3 for d in diffs) < len(diffs) * 0.2


# ------------------------------------------------ group-stat filter
def test_group_stat_filter_threshold_and_min_docs(spark):
    from facs_spark.ops.sampling import group_stat_filter
    rows = ([("good", i, 100.0) for i in range(5)]
            + [("bad", i, 1.0) for i in range(5)]
            + [("tiny", 0, 500.0)])
    df = spark.createDataFrame(rows, "g string, i long, m double")
    out = group_stat_filter(df, "g", "m", min_docs=2).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], set()).add(r["keep"])
    # corpus mean of group means = (100+1+500)/3 ≈ 200.3
    assert by_g["good"] == {False}      # 100 < 200.3
    assert by_g["bad"] == {False}
    assert by_g["tiny"] == {False}      # mean ok but < 2 docs
    out2 = group_stat_filter(df, "g", "m", min_mean=50.0).collect()
    keeps = {r["g"]: r["keep"] for r in out2}
    assert keeps == {"good": True, "bad": False, "tiny": True}


def test_quantile_buckets_tracks_exact_ntile(spark, docs):
    from pyspark.sql import Window
    from facs_spark.ops.sampling import quantile_buckets
    src = docs.select("doc_id", F.col("n_chars").cast("double").alias("v"))
    out, cutoffs = quantile_buckets(src, "v", 4)
    assert cutoffs == sorted(cutoffs)
    n = src.count()
    # bucket shares within rank tolerance of 1/4 each
    counts = {r["bucket"]: r["cnt"] for r in
              out.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
              .collect()}
    assert set(counts) <= {1, 2, 3, 4}
    for b in range(1, 5):
        assert abs(counts.get(b, 0) / n - 0.25) <= 0.05
    # agreement with the exact (single-task) ntile, up to ties at the
    # cutoffs: mismatching rows must carry values equal to a cutoff
    # neighborhood (rank error), bounded to a small fraction
    w = Window.orderBy(F.col("v"), F.col("doc_id"))
    exact = src.withColumn("nt", F.ntile(4).over(w))
    joined = out.join(exact, ["doc_id", "v"])
    mismatch = joined.filter(F.col("bucket") != F.col("nt")).count()
    assert mismatch / n < 0.1


def test_normalize_text_unicode_hygiene(spark):
    """Control strip + NFC composition + whitespace collapse, with
    code-point counts: 'e'+COMBINING ACUTE composes to one char,
    BEL disappears, runs of tab/newline collapse to one space."""
    from facs_spark.ops.scrub import normalize_text
    rows = [
        (1, "plain text"),
        (2, "e\u0301clair\x07 bell"),   # combining + control
        (3, "  a\t\tb\nc  "),                   # whitespace runs
        (4, "café"),                       # already NFC
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           normalize_text(df, "doc_id", "text").collect()}
    assert got[1].text_norm == "plain text" and not got[1].changed
    assert got[2].text_norm == "éclair bell"  # composed é
    assert got[2].n_chars_before == 13                 # raw codepoints
    assert got[2].n_chars_after == 11
    assert got[2].changed
    assert got[3].text_norm == "a b c" and got[3].changed
    assert got[4].text_norm == "café" and not got[4].changed
    assert got[5].text_norm == "" and got[5].n_chars_after == 0
    with pytest.raises(ValueError, match="normalization form"):
        normalize_text(df, "doc_id", "text", form="NFX")


def test_script_profile_counts_and_dominant(spark):
    from facs_spark.ops.textstats import script_profile
    rows = [
        (1, "hello world"),                      # latin only
        (2, "привет hello"),                     # cyrillic 6 > latin 5
        (3, "你好"),                              # cjk
        (4, "αβ ab"),                            # greek 2 == latin 2 → tie
        (5, "123 !!!"),                          # no script chars
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           script_profile(df, "doc_id", "text").collect()}
    assert got[1].latin_chars == 10 and got[1].dominant_script == "latin"
    assert got[2].cyrillic_chars == 6 and got[2].latin_chars == 5
    assert got[2].dominant_script == "cyrillic"
    assert got[3].cjk_chars == 2 and got[3].dominant_script == "cjk"
    # tie breaks alphabetically: greek < latin
    assert got[4].greek_chars == 2 and got[4].latin_chars == 2
    assert got[4].dominant_script == "greek"
    assert got[5].script_chars == 0 and got[5].dominant_script == "arabic"


def test_script_profile_tie_break_ignores_class_order(spark, monkeypatch):
    """A count tie goes to the alphabetically first script name, also
    when SCRIPT_CLASSES is not listed in name order."""
    from facs_spark.ops import textstats
    rows = [(1, "αβ ab"), (2, "привет αβγδεζ"), (3, "123")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {1: "greek", 2: "cyrillic", 3: "arabic"}
    monkeypatch.setattr(textstats, "SCRIPT_CLASSES",
                        tuple(reversed(textstats.SCRIPT_CLASSES)))
    got = {r.doc_id: r.dominant_script for r in
           textstats.script_profile(df, "doc_id", "text").collect()}
    assert got == want


def test_script_profile_null_text(spark):
    """NULL text gets NULL counts and a NULL dominant_script (as
    regexp_count(NULL) is NULL); the non-null rows sharing its batch
    come out exactly as they do without the NULLs."""
    from facs_spark.ops.textstats import script_profile
    rows = [(1, "привет hello"), (2, None), (3, "你好"), (4, ""),
            (5, None), (6, "αβ ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1)
    got = {r.doc_id: r.asDict() for r in
           script_profile(df, "doc_id", "text").collect()}
    want = {r.doc_id: r.asDict() for r in script_profile(
        df.where("text IS NOT NULL"), "doc_id", "text").collect()}
    for i in (2, 5):
        assert set(got.pop(i).values()) == {i, None}
    assert got == want


def test_hashed_linear_score_replayable_and_mapside(spark):
    """Scores replay exactly from the md5 convention in pure python,
    and the plan is one explode + one agg — no join, no second
    tokenization branch."""
    import hashlib

    from facs_spark.ops.textstats import hashed_linear_score
    rows = [(1, "the quick fox"), (2, "the the the"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           hashed_linear_score(df, "doc_id", "text", seed=0).collect()}

    def w(tok):
        b = hashlib.md5(tok.encode()).hexdigest()[:3]
        u = (int(hashlib.md5(f"0:{b}".encode()).hexdigest()[:13], 16)
             + 0.5) / 16 ** 13
        return u * 2 - 1

    for doc_id, text in rows[:2]:
        toks = [t for t in text.split(" ") if t]
        want = sum(map(w, toks)) / len(toks)
        assert got[doc_id].n_tokens == len(toks)
        assert abs(got[doc_id].score - want) < 1e-12
    assert 3 not in got  # empty doc emits no row (no tokens)


def test_normalize_text_fuzz_matches_python_reference(spark):
    """Fuzz parity: 300 adversarial strings (controls, combining
    marks, odd whitespace, mixed scripts) through the Spark op equal
    the pure-python reference (re + unicodedata) row for row, and the
    op is idempotent (normalizing its own output changes nothing)."""
    import re
    import unicodedata

    from facs_spark.ops.scrub import normalize_text

    def ref(s: str) -> str:
        s = re.sub("[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "", s)
        s = unicodedata.normalize("NFC", s)
        # strip(" ") not strip(): Spark/DuckDB TRIM remove ASCII
        # space only — NBSP at the edges is content, not whitespace
        return re.sub("[ \t\r\n]+", " ", s).strip(" ")

    rng = np.random.default_rng(11)
    pool = (list("abcXYZ09 .,!\t\n\r")
            + ["\x07", "\x1b", "\x7f",            # controls
               "́", "̈", "̧",      # combining marks
               "é", "ẍ", "ç",                     # precomposed
               "α", "ж", "好", "ؤ",               # scripts
               "  ", " "])                   # runs + NBSP (kept)
    rows = [(i, "".join(rng.choice(pool, size=rng.integers(0, 40))))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_norm
           for r in normalize_text(df, "doc_id", "text").collect()}
    for i, s in rows:
        want = ref(s)
        assert got[i] == want, (i, repr(s), repr(got[i]), repr(want))
        assert ref(want) == want  # idempotent


def test_jpeg_codec_roundtrip_and_determinism():
    """The pure-python baseline JPEG codec (ITU-T T.81): lossy
    round-trip lands within the quantization-step error budget at
    several sizes (odd dims exercise edge-padding), grayscale path
    replicates to RGB, encoding is bit-deterministic, and the
    spec-subset limits (progressive, subsampled) stay loud."""
    from facs_spark.ops.jpeg import decode_jpeg, encode_jpeg
    from facs_spark.ops.multimodal import decode_image, synth_png_pixels

    rng = np.random.default_rng(9)
    for h, w in [(8, 8), (13, 21), (32, 17), (1, 1), (9, 64)]:
        # smooth gradient + mild noise: the signal JPEG is built for
        yy, xx = np.mgrid[0:h, 0:w]
        base = np.stack([(yy * 5 + xx * 3) % 256,
                         (yy * 2 + xx * 7) % 256,
                         (yy * 11 + xx) % 256], axis=-1).astype(float)
        px = np.clip(base * 0.5 + 64 + rng.normal(0, 2, base.shape),
                     0, 255).astype(np.uint8)
        blob = encode_jpeg(px, quality=92)
        assert blob[:2] == b"\xFF\xD8" and blob[-2:] == b"\xFF\xD9"
        out = decode_jpeg(blob)
        assert out.shape == (h, w, 3)
        err = np.abs(out.astype(float) - px.astype(float)).mean()
        assert err < 12.0, (h, w, err)
        assert encode_jpeg(px, quality=92) == blob  # deterministic

    # the multimodal dispatch routes JPEG magic to the codec
    px = synth_png_pixels(4)[:, :, :3]
    via = decode_image(encode_jpeg(px, quality=95))
    assert via.shape == px.shape
    assert np.abs(via.astype(float) - px.astype(float)).mean() < 40.0

    # grayscale: single-component scan, replicated to RGB
    g = ((np.arange(16)[:, None] * 7 + np.arange(24)[None, :] * 3)
         % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=95))
    assert out.shape == (16, 24, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert np.abs(out[:, :, 0].astype(float) - g.astype(float)).mean() < 8.0

    # quality knob monotonicity: lower quality -> smaller stream
    big = encode_jpeg(px, quality=95)
    small = encode_jpeg(px, quality=20)
    assert len(small) < len(big)

    # subset limits are loud: flip SOF0 -> SOF9 (arithmetic coding —
    # progressive SOF2 is now a real decode path, tested separately)
    blob = bytearray(encode_jpeg(px, quality=90))
    sof = blob.find(b"\xFF\xC0")
    blob[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")


def test_jpeg_chroma_subsampling_modes():
    """4:2:0 / 4:2:2 / 4:4:0: correct dims at odd sizes, byte
    savings vs 4:4:4, smooth-content fidelity, deterministic encode,
    and general interleaved-MCU decode (ITU-T T.81 B.2.3)."""
    import numpy as np

    from facs_spark.ops.jpeg import decode_jpeg, encode_jpeg

    def psnr(a, b):
        mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
        return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)

    y, x = np.mgrid[0:41, 0:57]          # odd dims force edge MCUs
    img = np.stack([x * 4 % 256, (x + y) * 2 % 256, y * 4 % 256],
                   -1).astype(np.uint8)
    base = encode_jpeg(img, 90, "444")
    for sub in ("420", "422", "440"):
        blob = encode_jpeg(img, 90, sub)
        out = decode_jpeg(blob)
        assert out.shape == img.shape
        # smooth content: subsampling costs little fidelity
        assert psnr(img, out) >= 35.0, (sub, psnr(img, out))
        assert blob == encode_jpeg(img, 90, sub)   # deterministic
    # 4:2:0 halves chroma data: visibly smaller stream on real sizes
    big = np.repeat(np.repeat(img, 2, 0), 2, 1)
    assert len(encode_jpeg(big, 90, "420")) < \
        0.8 * len(encode_jpeg(big, 90, "444"))
    # grayscale ignores the flag; unknown mode raises loudly
    g = (x * 3 % 256).astype(np.uint8)
    assert decode_jpeg(encode_jpeg(g, 90, "420")).shape == (41, 57, 3)
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        encode_jpeg(img, 90, "411")
    assert base == encode_jpeg(img, 90)  # 4:4:4 output unchanged


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive (SOF2) encode/decode: the scan script (DC Al=1,
    DC refine, per-component AC first at Al=1, AC refinement)
    carries the same quantized coefficients as the baseline encoder,
    so the progressive decode must be BIT-IDENTICAL to the baseline
    decode — one assertion covers DC successive approximation,
    EOB-run coding, eager-ZRL correction-bit interleaving, per-scan
    optimal Huffman tables, and mid-stream DHT redefinition."""
    import numpy as np

    from facs_spark.ops.jpeg import (decode_jpeg, encode_jpeg,
                                     encode_jpeg_progressive)

    rng = np.random.default_rng(7)
    cases = [((17, 23), "444", 85), ((40, 56), "420", 90),
             ((24, 26), "422", 90), ((26, 24), "440", 90)]
    for shape, sub, q in cases:
        y, x = np.mgrid[0:shape[0], 0:shape[1]]
        img = np.stack([(x * 7 + y * 3) % 256, (x * 2 + y * 11) % 256,
                        (x * 5 + y * 5) % 256], -1).astype(np.uint8)
        img = (0.6 * img + 0.4 * rng.integers(0, 256, img.shape)) \
            .astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, q, sub))
        blob = encode_jpeg_progressive(img, q, sub)
        assert np.array_equal(base, decode_jpeg(blob)), (shape, sub)
        assert blob == encode_jpeg_progressive(img, q, sub)
    # near-flat image: long EOB runs spanning many blocks, with
    # history-coefficient correction bits inside the EOB region
    flat = np.full((64, 64, 3), 128, np.uint8)
    flat[5, 9] = (250, 10, 10)
    flat[40, 33] = (10, 250, 10)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(flat, 90, "420")),
        decode_jpeg(encode_jpeg_progressive(flat, 90, "420")))
    # grayscale single-component scan chain
    g = rng.integers(0, 256, (20, 28)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, 90)),
        decode_jpeg(encode_jpeg_progressive(g, 90)))
