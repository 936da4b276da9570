"""Spark-layer e2e tests: driver contract smoke, distributed build ≡
single-pass build, remove split, grouped sketches (SURVEY §5 plan)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from facs_spark.kernels.shingle import shingle_batch
from facs_spark.ops.contamination import (build_reference_bloom,
                                          classify_pages, remove_split)
from facs_spark.ops.sketch_agg import (KINDS, SketchSpec, build_sketch,
                                       grouped_sketches)
from facs_spark.session import get_spark
from facs_spark.sketch import BloomFilter, sketch_from_bytes

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("facs_spark_tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["total_read_count"] > 0
    assert 0.0 <= r["contamination_rate"] <= 1.0


def test_queries_and_oracles_aligned():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_distributed_build_equals_local_build(spark, docs):
    """Partition-partial + tree-merge Bloom ≡ one-pass local build
    (the merge-correctness property, north rule)."""
    ref = docs.filter(F.col("source") == "src0")
    dist = build_reference_bloom(ref, k=15, error_rate=0.001, capacity=50_000)
    texts = [r["text"] for r in ref.select("text").collect()]
    local = BloomFilter.create(capacity=50_000, error_rate=0.001, k_mer=15)
    local.add_batch(shingle_batch(texts, 15).windows)
    assert (dist.vector == local.vector).all()
    # inserts is exact per partial, an upper bound after merge (novelty
    # across partitions is unknowable without the exact set)
    assert dist.inserts >= local.inserts
    assert dist.inserts <= 2 * local.inserts


def test_tree_merge_multi_level(spark, docs, monkeypatch):
    """A fan-in constant of 2 forces multiple applyInPandas merge
    levels over 8 partials; the result must equal the flat merge."""
    from facs_spark.ops import sketch_agg
    ref = docs.filter(F.col("source") == "src0").repartition(8)
    spec = SketchSpec.make("bloom", "text", prep="kgram", k=15,
                           capacity=50_000, error_rate=0.001)
    flat, rows_flat = build_sketch(ref, spec)
    monkeypatch.setattr(sketch_agg, "_FANIN", 2)
    deep, rows_deep = build_sketch(ref, spec)
    assert rows_deep == rows_flat
    assert (deep.vector == flat.vector).all()


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_every_kind_builds_from_defaults(spark, kind):
    """Every kind of the kind table builds from a param-less spec —
    the sketch class's own defaults — through ``build_sketch``, and
    its blob round-trips through ``sketch_from_bytes``."""
    import pandas as pd
    pdf = pd.DataFrame({"x": np.arange(50, dtype=np.int64)})
    pdf["v"] = [np.full(64, i, dtype=np.float64) for i in range(50)]
    df = spark.createDataFrame(pdf, "x long, v array<double>").repartition(2)
    spec = SketchSpec.make(kind, "v" if kind == "fd" else "x")
    sk, rows = build_sketch(df, spec)
    assert rows == 50
    assert type(sk) is type(spec.new_sketch())
    blob = sk.to_bytes()
    assert sketch_from_bytes(blob).to_bytes() == blob


def test_remove_split_partitions_disjoint(spark, docs):
    ref = docs.filter(F.col("source") == "src0")
    bloom = build_reference_bloom(ref, k=15, error_rate=1e-9)
    clean, contam = remove_split(docs, bloom, passthrough=("doc_id",),
                                 tole_rate=0.4)
    n_clean, n_contam = clean.count(), contam.count()
    assert n_clean + n_contam == docs.count()
    ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    ids_c = {r["doc_id"] for r in contam.select("doc_id").collect()}
    assert not ids & ids_c


def test_arrow_classify_kernel_matches_classify_batch(spark):
    """classify_pages and classify_multi read the text column as Arrow
    and write Arrow back: NULL, empty, astral and combining-character
    pages, long/string/timestamp passthrough columns and partitions cut
    into several 2,500-row kernel slices give exactly classify_batch's
    five columns over the same Python lists, passthrough unchanged."""
    import pandas as pd

    from facs_spark.kernels.classify import (classify_batch,
                                             rev_complement_batch)
    from facs_spark.ops.contamination import (CLASSIFY_COLS, _KERNEL_BATCH,
                                              classify_multi)
    r = np.random.default_rng(5)
    words = [f"w{i}ord" for i in range(400)] + ["ÉTÉ", "naïve", "😀🦄",
                                                "e\u0301cole", "ACGTTGCA"]
    ref = [" ".join(r.choice(words, 60)) for _ in range(40)]
    special = [None, "", "😀" * 20, "e\u0301" * 30, "ÀB" * 40, ref[0].upper()]
    texts = [special[i] if i < len(special) else
             (ref[i % 40][i % 50:] if i % 3 == 0
              else " ".join(r.choice(words, 80)))
             for i in range(12_000)]
    texts[3_000:3_010] = special[:6] + [None] * 4
    pdf = pd.DataFrame({
        "id": np.arange(len(texts), dtype=np.int64),
        "name": [None if i % 7 == 0 else f"n{i}" for i in range(len(texts))],
        "ts": pd.Timestamp("2024-03-01") + pd.to_timedelta(
            np.arange(len(texts)), unit="s"),
        "text": texts})
    df = spark.createDataFrame(pdf)
    blooms = {}
    for k in (15, 12):
        bf = BloomFilter.create(capacity=50_000, error_rate=0.001, k_mer=k)
        bf.add_batch(shingle_batch(ref, k).windows)
        blooms[f"k{k}"] = bf
    cols = [c.split()[0] for c in CLASSIFY_COLS.split(", ")]
    passthrough = ("id", "name", "ts")
    want_rows = {row["id"]: tuple(row[c] for c in passthrough)
                 for row in df.collect()}

    def expect(bloom, canonicalize=None):
        res = classify_batch(texts, bloom, bloom.k_mer, 0.4,
                             canonicalize=canonicalize)
        return {i: (bool(res.contaminated[i]), float(res.score[i]),
                    int(res.match_time[i]), int(res.lengths[i]),
                    bool(res.escalated[i])) for i in range(len(texts))}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(4 * _KERNEL_BATCH))  # batches of > 1 slice
    try:
        out = classify_pages(df, blooms["k15"], passthrough=passthrough,
                             tole_rate=0.4)
        got = out.collect()
        multi = classify_multi(df, blooms, passthrough=passthrough,
                               tole_rate=0.4,
                               canonicalize="dna_revcomp").collect()
    finally:
        spark.conf.set(key, old)
    in_types = {f.name: f.dataType for f in df.schema.fields}
    assert [(f.name, f.dataType) for f in out.schema.fields[:3]] == \
        [(c, in_types[c]) for c in passthrough]
    assert out.columns == list(passthrough) + cols
    want = expect(blooms["k15"])
    assert len(got) == len(texts)
    assert sum(w[0] for w in want.values()) > 100  # pages do get flagged
    for row in got:
        assert tuple(row[c] for c in passthrough) == want_rows[row["id"]]
        assert tuple(row[c] for c in cols) == want[row["id"]]
    assert len(multi) == 2 * len(texts)
    for name, bloom in blooms.items():
        want = expect(bloom, rev_complement_batch)
        rows = [row for row in multi if row["filter_name"] == name]
        assert len(rows) == len(texts)
        for row in rows:
            assert tuple(row[c] for c in passthrough) == want_rows[row["id"]]
            assert tuple(row[c] for c in cols) == want[row["id"]]


def test_classify_sampling_pushdown(spark, docs):
    ref = docs.filter(F.col("source") == "src0")
    bloom = build_reference_bloom(ref, k=15, error_rate=1e-9)
    full = classify_pages(docs, bloom, tole_rate=0.4)
    sampled = classify_pages(docs, bloom, tole_rate=0.4,
                             sample_fraction=0.3, seed=1)
    assert 0 < sampled.count() < full.count()


def test_grouped_hll_within_bound(spark, docs):
    g = grouped_sketches(docs, ["lang"], SketchSpec.make("hll", "doc_id", p=12))
    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n")).collect()}
    got = g.collect()
    assert {r["lang"] for r in got} == set(exact)
    for r in got:
        est = sketch_from_bytes(bytes(r["sketch"])).estimate()
        n = exact[r["lang"]]
        assert abs(est - n) <= 4 * 1.04 / np.sqrt(2 ** 12) * n + 2


def test_spark_builtin_crosschecks(spark, docs):
    """Our sketches vs Spark's own approximate built-ins on the same data."""
    hll, _ = build_sketch(docs, SketchSpec.make("hll", "doc_id", p=14))
    builtin = docs.agg(F.approx_count_distinct("doc_id", 0.01).alias("a")).collect()[0]["a"]
    exact = docs.select("doc_id").distinct().count()
    assert abs(hll.estimate() - exact) / exact <= 0.05
    assert abs(builtin - exact) / exact <= 0.05  # sanity on the cross-check itself
    kll, _ = build_sketch(docs, SketchSpec.make("kll", "n_chars", k=200))
    [approx] = docs.agg(F.percentile_approx("n_chars", 0.5).alias("p")).collect()
    assert abs(kll.quantile(0.5) - approx["p"]) <= 0.05 * approx["p"] + 5


def test_sql_registered_sketch_functions(spark, docs):
    """SQL users can consume sketch blobs via registered UDFs."""
    from facs_spark.functions import register_sql_functions
    from facs_spark.ops.sketch_agg import SketchSpec, grouped_sketches
    register_sql_functions(spark)
    g = grouped_sketches(docs, ["lang"], SketchSpec.make("hll", "doc_id", p=12))
    g.createOrReplaceTempView("lang_sketches")
    rows = spark.sql(
        "SELECT lang, hll_estimate(sketch) AS est, rows_seen "
        "FROM lang_sketches ORDER BY lang").collect()
    assert rows
    for r in rows:
        assert abs(r["est"] - r["rows_seen"]) <= 0.05 * r["rows_seen"] + 2
    k = grouped_sketches(docs, ["lang"], SketchSpec.make("kll", "n_chars", k=200))
    k.createOrReplaceTempView("len_sketches")
    med = spark.sql("SELECT lang, kll_quantile(sketch, 0.5) AS p50 "
                    "FROM len_sketches").collect()
    assert all(40 <= r["p50"] <= 600 for r in med)
    # bloom_contains over a blob column
    from facs_spark.ops.contamination import build_reference_bloom
    bloom = build_reference_bloom(docs.limit(5), k=15, error_rate=1e-6)
    text0 = docs.limit(5).collect()[0]["text"].lower()
    bdf = spark.createDataFrame([(bytearray(bloom.to_bytes()),)], "sketch binary")
    bdf.createOrReplaceTempView("bloomtab")
    hit = spark.sql(
        f"SELECT bloom_contains(sketch, '{text0[:15]}') AS h FROM bloomtab"
    ).collect()[0]["h"]
    miss = spark.sql(
        "SELECT bloom_contains(sketch, 'zzzzzzzzzzzzzzz') AS h FROM bloomtab"
    ).collect()[0]["h"]
    assert hit is True and miss is False


def _blob_view(spark, name, blobs):
    rows = [(i, None if b is None else bytearray(b))
            for i, b in enumerate(blobs)]
    spark.createDataFrame(rows, "f int, s binary") \
        .createOrReplaceTempView(name)


def test_sql_bloom_contains_uses_the_build_encoding(spark):
    """SQL ``bloom_contains`` probes a raw Bloom with the build's key
    encoding: every member of an int-keyed filter over ``spark.range``
    is found, a disjoint range stays within the FPR, and string keys
    match whatever their ASCII case."""
    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    ids = spark.range(2000)
    bf, _ = build_sketch(ids, SketchSpec.make("bloom", "id", capacity=2000,
                                              error_rate=0.01))
    _blob_view(spark, "int_bloom", [bf.to_bytes()])
    spark.range(2000).createOrReplaceTempView("members")
    spark.range(10**6, 10**6 + 2000).createOrReplaceTempView("aliens")
    count = ("SELECT count_if(bloom_contains(f.s, k.id)) AS n "
             "FROM {} k CROSS JOIN int_bloom f")
    assert spark.sql(count.format("members")).collect()[0]["n"] == 2000
    fp = spark.sql(count.format("aliens")).collect()[0]["n"]
    assert fp <= 3 * 0.01 * 2000 + 10
    words = spark.range(500).select(
        F.concat(F.lit("Key-"), F.col("id").cast("string")).alias("w"))
    sbf, _ = build_sketch(words, SketchSpec.make("bloom", "w", capacity=500,
                                                 error_rate=0.01))
    _blob_view(spark, "str_bloom", [sbf.to_bytes()])
    got = spark.sql(
        "SELECT count_if(bloom_contains(f.s, upper(concat('key-', k.id)))) "
        "AS n FROM (SELECT id FROM range(500)) k CROSS JOIN str_bloom f"
    ).collect()[0]["n"]
    assert got == 500


def test_sql_keyed_readers_find_int_members_beside_a_null_key(spark):
    """A NULL in an int key column reaches a reader's Arrow batch as
    float64: every keyed reader over a ``spark.range(100)`` blob still
    finds all 100 members, and the NULL row reads absent.  A
    timestamp-keyed ``cms_count`` finds its members too."""
    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    specs = {"cms_count": SketchSpec.make("cms", "id"),
             "cbf_contains": SketchSpec.make("cbf", "id", capacity=1000),
             "cuckoo_contains": SketchSpec.make("cuckoo", "id",
                                                capacity=1000),
             "cs_estimate": SketchSpec.make("cs", "id"),
             "mg_estimate": SketchSpec.make("mg", "id", k=256)}
    # COALESCE(1) below the reader: the NULL row shares the members'
    # one Arrow batch
    probe = ("SELECT k, {fn}(s, k) AS v FROM ("
             "  SELECT /*+ COALESCE(1) */ f.s, k.k FROM "
             "  (SELECT {key} AS k FROM range(100) "
             "   UNION ALL SELECT NULL) k CROSS JOIN keyed f)")
    for fn, spec in specs.items():
        sk, _ = build_sketch(spark.range(100), spec)
        _blob_view(spark, "keyed", [sk.to_bytes()])
        rows = spark.sql(probe.format(fn=fn, key="id")).collect()
        assert sorted(r["k"] for r in rows if r["v"]) == list(range(100)), fn
        assert [bool(r["v"]) for r in rows if r["k"] is None] == [False], fn
    ts = "timestamp_seconds(id * 3600)"
    sk, _ = build_sketch(spark.range(100).select(F.expr(ts).alias("ts")),
                         SketchSpec.make("cms", "ts"))
    _blob_view(spark, "keyed", [sk.to_bytes()])
    rows = spark.sql(probe.format(fn="cms_count", key=ts)).collect()
    assert sum(1 for r in rows if r["k"] is not None and r["v"]) == 100


def test_sql_readers_answer_each_row_from_its_own_blob(spark):
    """One Arrow batch holding rows of two distinct blobs: every row's
    answer equals the driver-side answer of its own blob, for a keyed
    reader (2 Blooms × keys) and for ``kll_quantile`` with a different
    q per row."""
    from facs_spark.functions import register_sql_functions
    from facs_spark.sketch import KLL
    register_sql_functions(spark)
    filters = []
    for lo in (0, 300):
        bf = BloomFilter.create(1000, error_rate=0.01)
        bf.update_batch(np.arange(lo, lo + 400))
        filters.append(bf)
    _blob_view(spark, "two_blooms", [b.to_bytes() for b in filters])
    # COALESCE(1) below the reader: one partition, so one Arrow batch
    rows = spark.sql(
        "SELECT f, id, bloom_contains(s, id) AS hit FROM ("
        "  SELECT /*+ COALESCE(1) */ f.f, f.s, k.id FROM range(800) k "
        "  CROSS JOIN two_blooms f)").collect()
    assert len(rows) == 1600
    for r in rows:
        assert r["hit"] == bool(filters[r["f"]].contains_values([r["id"]])[0])
    assert {r["hit"] for r in rows if r["f"] == 0 and r["id"] < 300} == {True}
    assert sum(r["hit"] for r in rows if r["f"] == 1 and r["id"] < 300) < 30
    sketches = []
    for scale in (1.0, 100.0):
        kll = KLL(k=200)
        kll.update_batch(np.arange(1, 1001, dtype=np.float64) * scale)
        sketches.append(kll)
    _blob_view(spark, "two_klls", [s.to_bytes() for s in sketches])
    rows = spark.sql(
        "SELECT f, q, kll_quantile(s, q) AS v FROM ("
        "  SELECT /*+ COALESCE(1) */ f.f, f.s, q.id / 20.0 AS q "
        "  FROM range(21) q CROSS JOIN two_klls f)").collect()
    assert len(rows) == 42 and len({r["v"] for r in rows}) > 21
    for r in rows:
        assert r["v"] == sketches[r["f"]].quantile(float(r["q"]))


def test_sql_reader_null_blob_reads_null(spark):
    """A NULL blob (e.g. an unmatched LEFT JOIN group) reads NULL in a
    one-blob reader and in ``theta_intersect``; the real blob's row
    keeps its answer."""
    from facs_spark.functions import register_sql_functions
    from facs_spark.sketch import HyperLogLog, ThetaSketch
    register_sql_functions(spark)
    hll = HyperLogLog(p=12)
    hll.update_batch(np.arange(100))
    _blob_view(spark, "hll_or_null", [None, hll.to_bytes()])
    got = spark.sql("SELECT f, hll_estimate(s) AS e FROM hll_or_null "
                    "ORDER BY f").collect()
    assert [r["e"] for r in got] == [None, hll.estimate()]
    a, b = ThetaSketch(), ThetaSketch()
    a.update_batch(np.arange(100))
    b.update_batch(np.arange(50, 200))
    spark.createDataFrame(
        [(0, bytearray(a.to_bytes()), None),
         (1, bytearray(a.to_bytes()), bytearray(b.to_bytes()))],
        "f int, x binary, y binary").createOrReplaceTempView("theta_or_null")
    got = spark.sql("SELECT f, theta_intersect(x, y) AS i FROM theta_or_null "
                    "ORDER BY f").collect()
    assert [r["i"] for r in got] == [None, 50.0]


def test_run_pipeline_job(spark, tmp_path):
    """The spark-submit job driver: split checkpoints, resume, output."""
    import subprocess, sys, json, os
    ck = str(tmp_path / "ckpt")
    out = str(tmp_path / "sketch.bloom")
    cmd = [sys.executable, "tools/run_pipeline.py",
           "--input", f"{SF}/documents.parquet", "--column", "text",
           "--sketch", "bloom", "--k", "15", "--capacity", "200000",
           "--checkpoint", ck, "--splits", "3", "--output", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                        cwd="/root/repo", check=True)
    lines = [json.loads(l) for l in r1.stdout.strip().splitlines()
             if l.startswith("{")]
    assert lines[-1]["sketch"]["inserts"] > 0
    assert lines[-1]["lineage"]["partials"] >= 3
    assert os.path.exists(out)
    # resume: second run re-processes nothing but yields the same sketch
    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                        cwd="/root/repo", check=True)
    lines2 = [json.loads(l) for l in r2.stdout.strip().splitlines()
              if l.startswith("{")]
    assert lines2[-1]["sketch"]["inserts"] == lines[-1]["sketch"]["inserts"]
    assert lines2[-1]["lineage"]["partials"] == lines[-1]["lineage"]["partials"]


def test_grouped_agg_sketch_udaf(spark, docs):
    """The literal GROUPED_AGG pandas-UDAF surface: one sketch blob
    per group via groupBy().agg(...) and via pure SQL, producing
    identical sketch STATE to the map-side-partial path for the same
    input (merge associativity made visible at the API level)."""
    import numpy as np

    from facs_spark.functions import register_sql_functions, sketch_agg_udf
    from facs_spark.ops.sketch_agg import SketchSpec, grouped_sketches
    from facs_spark.sketch import sketch_from_bytes
    spec = SketchSpec.make("hll", "doc_id", p=14)
    udaf = sketch_agg_udf(spec)
    via_udaf = {r["lang"]: bytes(r["blob"]) for r in
                docs.groupBy("lang").agg(udaf("doc_id").alias("blob"))
                .collect()}
    via_partials = {r["lang"]: bytes(r["sketch"]) for r in
                    grouped_sketches(docs, ["lang"], spec).collect()}
    assert set(via_udaf) == set(via_partials)
    for lang in via_udaf:
        a = sketch_from_bytes(via_udaf[lang])
        b = sketch_from_bytes(via_partials[lang])
        assert (np.asarray(a.registers) == np.asarray(b.registers)).all()
    # pure SQL end-to-end: build AND consume with registered functions
    register_sql_functions(spark)
    docs.createOrReplaceTempView("docs_udaf")
    # (grouped-agg pandas UDFs can't share an Aggregate with built-in
    # aggregates — Spark INVALID_PANDAS_UDF_PLACEMENT — so the exact
    # side runs separately)
    est = {r["lang"]: r["est"] for r in spark.sql(
        "SELECT lang, hll_estimate(hll_agg(doc_id)) AS est "
        "FROM docs_udaf GROUP BY lang").collect()}
    exact = {r["lang"]: r["exact"] for r in spark.sql(
        "SELECT lang, COUNT(DISTINCT doc_id) AS exact "
        "FROM docs_udaf GROUP BY lang").collect()}
    assert est and set(est) == set(exact)
    for lang in est:
        assert abs(est[lang] - exact[lang]) <= 0.05 * exact[lang] + 2


def test_theta_sql_surface(spark, docs):
    """theta_agg + theta_estimate/theta_intersect in pure SQL: the
    distinct estimate is exact below k, and the en-subset∩all
    intersection equals the en count exactly in exact mode."""
    import pandas as pd

    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    docs.createOrReplaceTempView("docs_theta")
    est = spark.sql("SELECT theta_estimate(theta_agg(doc_id)) AS e "
                    "FROM docs_theta").collect()[0]["e"]
    exact = docs.select("doc_id").distinct().count()
    assert est == float(exact)  # below k=4096 ⇒ exact mode
    a = spark.sql("SELECT theta_agg(doc_id) AS s FROM docs_theta "
                  "WHERE lang = 'en'").collect()[0]["s"]
    b = spark.sql("SELECT theta_agg(doc_id) AS s "
                  "FROM docs_theta").collect()[0]["s"]
    pair = spark.createDataFrame(pd.DataFrame(
        {"x": [bytes(a)], "y": [bytes(b)]}))
    pair.createOrReplaceTempView("theta_pair")
    inter = spark.sql("SELECT theta_intersect(x, y) AS i "
                      "FROM theta_pair").collect()[0]["i"]
    n_en = docs.filter(F.col("lang") == "en").count()
    assert inter == float(n_en)
    # a-not-b: all minus the en subset, and the exact-mode partition
    # identity diff(b,a) + intersect(b,a) == estimate(b)
    diff = spark.sql("SELECT theta_difference(y, x) AS d "
                     "FROM theta_pair").collect()[0]["d"]
    assert diff == float(exact - n_en)
    assert spark.sql("SELECT theta_difference(x, y) AS d "
                     "FROM theta_pair").collect()[0]["d"] == 0.0


def test_grouped_overlap_matrix(spark, docs):
    """Pairwise content-overlap matrix between sources via grouped
    theta sketches: below-k groups run in exact mode, so the estimated
    intersections/Jaccards equal the true token-set overlaps."""
    from facs_spark.ops.sketch_agg import SketchSpec, grouped_overlap
    out = {(r["group_a"], r["group_b"]): r for r in
           grouped_overlap(docs, "source",
                           SketchSpec.make("theta", "text", prep="tokens",
                                           k=65536)).collect()}
    # ground truth token sets per source (single-space split, like the
    # tokens prep)
    truth = {}
    for r in docs.select("source", "text").collect():
        truth.setdefault(r["source"], set()).update(
            t for t in (r["text"] or "").split(" ") if t)
    assert len(out) == len(truth) * (len(truth) - 1) // 2
    for (a, b), row in out.items():
        exact_inter = len(truth[a] & truth[b])
        exact_union = len(truth[a] | truth[b])
        assert row["est_a"] == len(truth[a])
        assert row["est_intersection"] == exact_inter, (a, b)
        assert abs(row["est_jaccard"] - exact_inter / exact_union) < 1e-9


def test_grouped_overlap_sharded_matches_driver_loop(spark):
    """The distributed pair grid (shards=S) returns EXACTLY the driver
    loop's rows: every unordered group pair is evaluated once, in the
    one grid cell its two shard hashes select, and the per-pair
    estimates are bit-identical (same blobs, same kernel math).  300
    groups → 44 850 pairs across the S·(S+1)/2 cells — big enough
    that any double-counted or dropped grid cell shows up as a row
    diff.  No collect of the blob table happens on the sharded path
    (only the final result is collected here, as any caller would)."""
    import pandas as pd

    from facs_spark.ops.sketch_agg import SketchSpec, grouped_overlap
    n_groups, per = 300, 4
    rows = [{"doc_id": g * per + i,
             "grp": f"g{g:04d}",
             # overlapping token windows so adjacent groups share text
             "text": " ".join(f"tok{t}" for t in range(g, g + 40))}
            for g in range(n_groups) for i in range(per)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    spec = SketchSpec.make("theta", "text", prep="tokens", k=4096)
    key = ["group_a", "group_b"]
    driver = grouped_overlap(df, "grp", spec).toPandas() \
        .sort_values(key).reset_index(drop=True)
    sharded = grouped_overlap(df, "grp", spec, shards=5).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(driver) == n_groups * (n_groups - 1) // 2
    pd.testing.assert_frame_equal(driver, sharded)


def test_cli_overlap(spark, capsys):
    """python -m facs_spark overlap: JSON-lines overlap matrix."""
    import json as _json

    from facs_spark.__main__ import main
    rc = main(["overlap", "-d", f"{SF}/documents.parquet",
               "-g", "source", "-k", "65536"])
    assert rc == 0
    lines = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert lines and all(
        {"group_a", "group_b", "est_intersection",
         "est_jaccard"} <= set(l) for l in lines)


def test_mg_distributed_bound_partitioning_invariant(spark):
    """Distributed MG build: the deterministic guarantee
    est <= true <= est + N/(k+1) must hold under ANY partitioning
    (mergeable-summaries merge), checked at two partition counts."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    exact = {r["t"]: r["c"] for r in
             toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), "t").limit(40).collect()}
    n_total = toks.count()
    for parts in (2, 11):
        mg, seen = build_sketch(
            docs.repartition(parts),
            SketchSpec.make("mg", "text", prep="tokens", k=512))
        assert mg.total == n_total
        bound = n_total / 513
        for key, true in exact.items():
            est = mg.estimate(key)
            assert est <= true and true - est <= bound


def test_fd_distributed_bound_and_rowcount(spark):
    """Distributed FD build over the embeddings table: spectral bound
    vs the exact Gram, row accounting, partitioning invariance."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                     for r in emb.select("embedding").collect()])
    gram = rows.T @ rows
    frob2 = float((rows ** 2).sum())
    for parts in (3, 9):
        fd, _ = build_sketch(
            emb.repartition(parts),
            SketchSpec.make("fd", "embedding", l=16, d=64))
        assert fd.n_rows == rows.shape[0]
        assert abs(fd.frob2 - frob2) <= 1e-9 * frob2
        err = float(np.linalg.norm(gram - fd.gram(), 2))
        assert err <= frob2 / 16


def test_token_containment_grid_exact_and_bloom_guarantees(spark):
    """Known-overlap corpora: exact containment is right, the Bloom
    estimate never loses a member (est >= exact), and the grid is
    symmetric in the intersection but directional in the ratio."""
    from facs_spark.ops.contamination import token_containment_grid
    rows = [
        # en vocabulary: a b c d   — de: c d e   — fr: d f
        (1, "en", "a b c d"),
        (2, "en", "a b"),
        (3, "de", "c d e"),
        (4, "fr", "d f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {(r["lang_a"], r["lang_b"]): r for r in
           token_containment_grid(docs).collect()}
    assert out[("en", "de")]["exact_overlap"] == 2          # {c, d}
    assert out[("de", "en")]["exact_overlap"] == 2
    assert out[("en", "fr")]["exact_overlap"] == 1          # {d}
    assert out[("fr", "de")]["exact_overlap"] == 1          # {d}
    assert out[("en", "de")]["distinct_a"] == 4
    assert out[("de", "en")]["distinct_a"] == 3
    assert abs(out[("de", "en")]["containment"] - 2 / 3) < 1e-6  # ROUND 6
    for r in out.values():
        assert r["est_overlap"] >= r["exact_overlap"]       # zero FN
        assert r["within_bound"]
    # pairs with zero overlap are absent by contract (inner join)
    assert ("fr", "en") in out and out[("fr", "en")]["exact_overlap"] == 1


def test_ams_distributed_build_partitioning_invariant(spark):
    """AMS z is linear in the multiset, so the distributed sketch is
    BIT-IDENTICAL for any partitioning — and its estimate sits inside
    the published sqrt(16/c) bound vs the exact F2."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = (docs.select(F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    f2 = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
          .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    spec = SketchSpec.make("ams", "text", prep="tokens",
                           r=5, c=256, seed=42)
    zs = []
    for parts in (2, 13):
        ams, _ = build_sketch(docs.repartition(parts), spec)
        assert abs(ams.estimate() - f2) <= ams.error_bound() * f2
        zs.append(ams.z.copy())
    assert np.array_equal(zs[0], zs[1])


def test_cbf_distributed_build_then_revoke_exact(spark):
    """Distributed CBF build over distinct customer keys, driver-side
    revocation, broadcast probe: kept keys always member (zero FN),
    revoked keys all non-member at EXACT_E sizing."""
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    allowed = (cust.filter(F.col("c_mktsegment") == "AUTOMOBILE")
               .select("c_custkey").distinct())
    keys = np.array([r[0] for r in allowed.collect()], dtype=np.int64)
    cbf, _ = build_sketch(allowed, SketchSpec.make(
        "cbf", "c_custkey", prep="raw",
        capacity=max(keys.size, 1), error_rate=1e-9))
    assert cbf.inserts == keys.size
    revoked = keys[keys % 7 == 0]
    cbf.remove_batch(revoked)
    kept = keys[keys % 7 != 0]
    assert cbf.contains_batch(kept).all()
    assert not cbf.contains_batch(revoked).any()
    assert not cbf.underflowed and not cbf.saturated


def test_round6_sketch_sql_surface(spark, docs):
    """mg_agg/ams_agg/cbf_agg + their readers in pure SQL: MG obeys
    est <= true <= est + bound on the top token, AMS sits inside its
    F2 bound, CBF membership is exact at the tiny-FPR sizing."""
    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    toks = (docs.select(F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    toks.createOrReplaceTempView("toks_r6")
    top = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), "t").limit(1).collect()[0])
    row = spark.sql(
        "SELECT mg_estimate(s, %r) AS est, mg_error_bound(s) AS b, "
        "ams_f2(a) AS f2 FROM (SELECT mg_agg(t) AS s, ams_agg(t) AS a "
        "FROM toks_r6)" % top["t"]).collect()[0]
    assert row["est"] <= top["c"] <= row["est"] + row["b"]
    f2_exact = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
                .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    assert abs(row["f2"] - f2_exact) <= 0.25 * f2_exact  # c=256 bound
    docs.createOrReplaceTempView("docs_r6")
    mem = spark.sql(
        "WITH f AS (SELECT cbf_agg(doc_id) AS s FROM docs_r6 "
        "           WHERE doc_id % 3 = 0) "
        "SELECT d.doc_id % 3 = 0 AS should, cbf_contains(f.s, d.doc_id) "
        "       AS got FROM docs_r6 d CROSS JOIN f").collect()
    assert all(r["should"] == r["got"] for r in mem)


def test_countsketch_sql_surface(spark, docs):
    """cs_agg/cs_estimate/cs_error_bound in pure SQL: the unbiased
    point estimate of the top token sits inside the published
    ±sqrt(3·F2/c) bound priced by the sketch's own counters."""
    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    toks = (docs.select(F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    toks.createOrReplaceTempView("toks_cs")
    top = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), "t").limit(1).collect()[0])
    row = spark.sql(
        "SELECT cs_estimate(s, %r) AS est, cs_error_bound(s) AS b "
        "FROM (SELECT cs_agg(t) AS s FROM toks_cs)" % top["t"]
    ).collect()[0]
    assert abs(row["est"] - top["c"]) <= row["b"], (row, top["c"])


def test_cuckoo_sql_surface(spark, docs):
    """cuckoo_agg/cuckoo_contains in pure SQL: distributed partials
    merge by fingerprint re-insertion, membership exact at the
    fbits=32 sizing (no FN for kept keys, no FP observed on the
    disjoint probe set)."""
    from facs_spark.functions import register_sql_functions
    register_sql_functions(spark)
    docs.createOrReplaceTempView("docs_ck")
    mem = spark.sql(
        "SELECT d.doc_id < 1000000 AS should, "
        "       cuckoo_contains(f.s, d.doc_id) AS got "
        "FROM (SELECT doc_id FROM docs_ck UNION ALL "
        "      SELECT doc_id + 1000000 FROM docs_ck) d "
        "CROSS JOIN (SELECT cuckoo_agg(doc_id) AS s FROM docs_ck) f"
    ).collect()
    assert all(r["should"] == r["got"] for r in mem)
