"""The reference pipeline end-to-end on Spark: build → classify → report
→ remove (SURVEY §3 query lifecycle).

* ``build_reference_bloom`` — distributed replacement for the
  single-threaded ``facs build`` (facs/build.c:138-154): per-partition
  shingle+insert partials, tree OR-merge.  Capacity is derived from
  table stats (``SUM(length(text))`` − (k−1)·COUNT ≈ window count),
  the analogue of the reference's ``capacity = strlen`` heuristic
  (facs/build.c:148).
* ``classify_pages`` — the broadcast membership semi-join (SURVEY
  §2.5): the filter bit-array ships once per executor via
  ``SparkContext.broadcast`` (the small side; no shuffle of pages),
  and the two-phase quick/full kernel runs per Arrow batch.
  ``classify_multi`` runs the same kernel over N filters;
  ``classify_pages`` is its N=1 case.
* ``contamination_counters`` — the report's four counters via one
  partial+final aggregation (replacing ``omp atomic`` + MPI gather);
  ``api._report_json`` derives the reference's report row from them
  (facs/query.c:468-511), incl. the A&S-erf p_value.
* ``remove_split`` — classify once, split clean/contam by the cached
  predicate (facs/remove.c semantics, minus the omp-critical append
  bottleneck).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..kernels.classify import CANONICALIZERS, classify_batch
from ..kernels.shingle import shingle_batch
from ..session import ensure_parallelism, ensure_shipped
from ..sketch import BloomFilter, mco_suggestion
from ..sketch.hashing import hash3_matrix
from .sketch_agg import SketchSpec, build_sketch

CLASSIFY_COLS = ("contaminated boolean, match_score double, match_time long, "
                 "text_len long, escalated boolean")


def estimate_kgram_capacity(df: DataFrame, text_col: str, k: int) -> int:
    """n ≈ Σ length(text) − (k−1)·count — k-gram count upper bound from
    table stats (SURVEY §2.4 sizing row)."""
    row = df.agg(F.sum(F.length(F.col(text_col))).alias("chars"),
                 F.count(F.lit(1)).alias("docs")).collect()[0]
    chars = row["chars"] or 0
    docs = row["docs"] or 0
    return max(1, int(chars) - (k - 1) * int(docs))


def build_reference_bloom(ref_df: DataFrame, text_col: str = "text",
                          k: int = 15, error_rate: float = 0.0005,
                          capacity: int | None = None,
                          sizing: str = "facs") -> BloomFilter:
    """Distributed Bloom build over a reference-corpus DataFrame."""
    if capacity is None:
        capacity = estimate_kgram_capacity(ref_df, text_col, k)
    spec = SketchSpec.make("bloom", text_col, prep="kgram", k=k,
                           capacity=capacity, error_rate=error_rate,
                           sizing=sizing)
    sketch, _rows = build_sketch(ref_df, spec)
    if sketch is None:  # empty corpus
        sketch = spec.new_sketch()
    return sketch


_KERNEL_BATCH = 2500  # cache-resident slice; see session.py batch note


def _classify_kernel(bc_blobs, tags: tuple[dict, ...],
                     toles: tuple[float, ...],
                     passthrough: tuple[str, ...], text_col: str,
                     canonicalize: str | None):
    """Each cache-resident slice is probed against every broadcast
    filter in turn — facs's multi-filter screen runs ``query()`` once
    per filter (facs/file_dir.c:104-129).  Filter i uses its own k_mer
    and ``toles[i]``; its rows carry ``tags[i]`` as constant columns.
    Arrow in and out: the text column is read in place, passthrough
    columns go back as they came."""
    canon_fn = CANONICALIZERS[canonicalize] if canonicalize else None

    def run(iterator):
        blooms = [BloomFilter.from_payload(b) for b in bc_blobs.value]
        for batch in iterator:
            for lo in range(0, batch.num_rows, _KERNEL_BATCH):
                sub = batch.slice(lo, _KERNEL_BATCH)
                texts = sub.column(text_col)
                for bloom, tole, tag in zip(blooms, toles, tags):
                    res = classify_batch(texts, bloom, bloom.k_mer or 15,
                                         tole, canonicalize=canon_fn)
                    out = {c: sub.column(c) for c in passthrough}
                    out.update((c, pa.array([v] * sub.num_rows, pa.string()))
                               for c, v in tag.items())
                    out["contaminated"] = res.contaminated
                    out["match_score"] = res.score
                    out["match_time"] = res.match_time
                    out["text_len"] = res.lengths
                    out["escalated"] = res.escalated
                    yield pa.RecordBatch.from_pydict(out)

    return run


def _classify_plan(df: DataFrame, blooms: list[BloomFilter],
                   tags: tuple[dict, ...], tag_fields: tuple[str, ...],
                   text_col: str, passthrough: tuple[str, ...],
                   tole_rate: float | None,
                   canonicalize: str | None) -> DataFrame:
    """One mapInArrow over ``df`` probing every filter in ``blooms``;
    ``tag_fields`` are the schema fields of the ``tags`` columns."""
    spark = df.sparkSession
    ensure_shipped(spark)
    toles = tuple((mco_suggestion(b.k_mer or 15)
                   if tole_rate is None else tole_rate) for b in blooms)
    # any filter whose blob tops 1 GiB ships as bank slices (JVM byte
    # arrays cap at 2 GB); the list broadcasts once per executor
    bc = spark.sparkContext.broadcast([b.to_payload() for b in blooms])
    cols = tuple(passthrough)
    sel = ensure_parallelism(df.select(*dict.fromkeys(cols + (text_col,))))
    dtypes = {f.name: f.dataType.simpleString() for f in sel.schema.fields}
    schema = ", ".join([f"{c} {dtypes[c]}" for c in cols]
                       + list(tag_fields) + [CLASSIFY_COLS])
    return sel.mapInArrow(
        _classify_kernel(bc, tags, toles, cols, text_col, canonicalize),
        schema=schema)


def classify_pages(df: DataFrame, bloom: BloomFilter,
                   text_col: str = "text",
                   passthrough: tuple[str, ...] = (),
                   tole_rate: float | None = None,
                   sample_fraction: float | None = None,
                   seed: int = 42,
                   canonicalize: str | None = None) -> DataFrame:
    """Classify pages against a broadcast Bloom filter: the one-filter
    case of ``classify_multi``, with no ``filter_name`` column.

    ``sample_fraction`` is the reference's ``-s`` Bernoulli sampling
    (facs/tool.c:273-297), expressed as seeded ``df.sample`` so it is
    pushed below the kernel (exact-fraction, an upgrade over the
    reference's 0.1-granularity ``rand()%10``).
    """
    if sample_fraction is not None and sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    return _classify_plan(df, [bloom], ({},), (), text_col, passthrough,
                          tole_rate, canonicalize)


def contamination_counters(classified: DataFrame) -> DataFrame:
    """Partial+final aggregation of the four global counters
    (reads_num / reads_contam / hits / all_k — facs/bloom.h:69-78)."""
    return classified.agg(
        F.count(F.lit(1)).alias("total_read_count"),
        F.sum(F.col("contaminated").cast("long")).alias("contaminated_reads"),
        F.sum("match_time").alias("total_hits"),
        F.sum("text_len").alias("all_k"),
    )


def remove_split(df: DataFrame, bloom: BloomFilter, text_col: str = "text",
                 passthrough: tuple[str, ...] = (),
                 tole_rate: float | None = None) -> tuple[DataFrame, DataFrame]:
    """facs remove: (clean, contam) DataFrames from ONE classification.

    The classification column is computed once and cached; the two
    writes are plain filters — no omp-critical string appends
    (facs/query.c:443-464), and order is not guaranteed (sort by an
    input ordinal first if byte-parity with the reference matters).
    """
    classified = classify_pages(df, bloom, text_col=text_col,
                                passthrough=tuple(passthrough) + (text_col,),
                                tole_rate=tole_rate).cache()
    clean = classified.filter(~F.col("contaminated"))
    contam = classified.filter(F.col("contaminated"))
    return clean, contam


def _gram_keys(texts, k: int):
    """(shingles, int64 key per stride-1 k-gram window) — hash lane 0
    shifted right once so every key fits a signed Spark long."""
    sb = shingle_batch(texts, k)
    if not sb.windows.shape[0]:
        return sb, np.zeros(0, dtype=np.int64)
    return sb, (hash3_matrix(sb.windows, 0) >> np.uint64(1)).astype(np.int64)


def classify_pages_shuffle(df: DataFrame, ref_df: DataFrame,
                           id_col: str = "doc_id",
                           text_col: str = "text", k: int = 15,
                           tole_rate: float = 0.4) -> DataFrame:
    """Exact classification WITHOUT a broadcast filter — the scale
    path for reference corpora too large for executor memory.

    ``classify_pages`` broadcasts the Bloom filter (right up to the
    banked ~GBs range); past ~10¹⁰⁺ distinct reference k-grams the
    filter no longer fits an executor, and the right plan flips to a
    shuffle semi-join: hash both sides' k-grams to 64-bit keys,
    inner-join page windows against the distinct reference gram set,
    and rebuild the reference's two-phase score from the surviving
    hit positions (run-length algebra via one LAG window).  Exact —
    no false positives at all (64-bit hash collisions ≈ n²/2⁶⁴ are the
    only caveat, documented not engineered around).

    Cost model: every page window row (id, pos, gram, len) shuffles
    once on the gram key — heavy but linear, and the only shape that
    works when neither side fits in memory.  Same output schema and
    same score formula as ``classify_pages`` (facs/tool.c:56-180
    semantics; verified equal in tests on an exact-rate filter).
    """
    spark = df.sparkSession
    ensure_shipped(spark)

    def ref_kernel(iterator):
        for batch in iterator:
            _sb, grams = _gram_keys(batch[text_col].tolist(), k)
            yield pd.DataFrame({"gram": np.unique(grams)})

    ref_grams = (ensure_parallelism(ref_df.select(text_col))
                 .mapInPandas(ref_kernel, "gram long").distinct())

    def win_kernel(iterator):
        for batch in iterator:
            sb, grams = _gram_keys(batch[text_col].tolist(), k)
            ids = batch[id_col].to_numpy()
            yield pd.DataFrame({
                id_col: ids[sb.doc_idx],
                "pos": sb.win_pos.astype(np.int64),
                "gram": grams,
                "len": sb.doc_lengths[sb.doc_idx].astype(np.int64)})

    wins = ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        win_kernel, f"{id_col} long, pos long, gram long, len long")

    from pyspark.sql.window import Window
    hits = wins.join(ref_grams, "gram")
    w = Window.partitionBy(id_col).orderBy("pos")
    hits = hits.withColumn("prev", F.lag("pos").over(w))
    # quick positions (0-based): stride-k starts plus the right-aligned
    # tail when len % k != 0 (facs/tool.c:66-90)
    quick = ((F.col("pos") % k == 0) |
             ((F.col("len") % k != 0) & (F.col("pos") == F.col("len") - k)))
    per_doc = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("mt"),
        F.sum((F.col("prev").isNull() |
               (F.col("pos") - F.col("prev") > 1)).cast("long"))
         .alias("run_starts"),
        F.max(quick.cast("int")).alias("esc"),
        F.first("len").alias("len"))
    denom = (F.col("len") * k + F.col("len") - F.lit(k * k)).cast("double")
    scored = per_doc.select(
        id_col,
        (F.col("esc") == 1).alias("escalated"),
        F.when(F.col("esc") == 1, F.col("mt")).otherwise(F.lit(0))
         .cast("long").alias("match_time"),
        F.when(F.col("esc") == 1,
               (F.col("mt") * k + F.col("mt")
                + (k - 1) * F.col("run_starts")).cast("double") / denom)
         .otherwise(F.lit(0.0)).alias("match_score"))
    base = df.select(id_col, F.octet_length(text_col).alias("text_len"))
    out = (base.join(scored, id_col, "left")
           .select(id_col,
                   F.coalesce("escalated", F.lit(False)).alias("escalated"),
                   F.coalesce("match_time", F.lit(0)).alias("match_time"),
                   F.coalesce("match_score", F.lit(0.0)).alias("match_score"),
                   F.col("text_len").cast("long").alias("text_len")))
    return out.withColumn(
        "contaminated",
        F.col("escalated") & (F.col("match_score") >= tole_rate))


# --------------------------------------------------------------- multi
def classify_multi(df: DataFrame, blooms: dict[str, BloomFilter],
                   text_col: str = "text",
                   passthrough: tuple[str, ...] = (),
                   tole_rate: float | None = None,
                   canonicalize: str | None = None) -> DataFrame:
    """Screen pages against MANY filters in one pass (long format).

    The reference's fastq_screen-style multi-filter screening loops
    query() per `.bloom` file (facs/file_dir.c:104-129); here every
    filter broadcasts once and each Arrow batch is probed against all
    of them without rescanning the input (SURVEY §2.5).  Output: one
    row per (page, filter_name).
    """
    return _classify_plan(df, list(blooms.values()),
                          tuple({"filter_name": n} for n in blooms),
                          ("filter_name string",), text_col, passthrough,
                          tole_rate, canonicalize)


def screen_report(classified_multi: DataFrame) -> DataFrame:
    """Per-filter report rows (the fastq_screen comparison table)."""
    return (classified_multi.groupBy("filter_name").agg(
        F.count(F.lit(1)).alias("total_read_count"),
        F.sum(F.col("contaminated").cast("long")).alias("contaminated_reads"),
        F.sum("match_time").alias("total_hits"))
        .withColumn("contamination_rate",
                    F.col("contaminated_reads") / F.col("total_read_count"))
        .orderBy("filter_name"))


def token_containment_grid(docs: DataFrame, lang_col: str = "lang",
                           text_col: str = "text",
                           error_rate: float = 1e-4) -> DataFrame:
    """Cross-corpus Bloom containment grid (SURVEY §2.3/§2.5): for
    every ordered pair of corpora (a, b), what fraction of corpus a's
    distinct vocabulary is contained in corpus b's?

    This is the reference's ``query()`` hit-ratio semantics
    (facs/query.c:402-468) lifted from one reads-vs-filter pair to an
    all-pairs grid: each corpus builds one Bloom over its distinct
    tokens (map-side partials, tree OR-merge — never a token shuffle),
    the tiny filters broadcast, and a single probe pass over the
    distinct (lang, token) rows counts hits against every OTHER
    corpus's filter.  Raw tokens are never shuffled for the estimate —
    only per-partition (lang_a, lang_b, hits) partial counts are
    exchanged, so the grid costs one broadcast + one scan at any
    corpus count that fits the driver (filters are ~m/8 bytes each).

    Probes are restricted to printable-ASCII tokens, lowercased, so
    the exact verifier can lower() identically in Spark and the DuckDB
    oracle (unicode lowercasing differs between engines; the Bloom key
    encoding is byte-level ASCII tolower for reference parity —
    ``sketch/hashing.ascii_lower``).

    Output per ordered pair with non-empty exact overlap:
    ``lang_a, lang_b, distinct_a, exact_overlap, est_overlap,
    containment, within_bound`` where ``within_bound`` asserts the
    published Bloom guarantees: zero false negatives (est >= exact)
    and FPR ≤ error_rate with a generous binomial-tail slack.
    """
    spark = docs.sparkSession
    ensure_shipped(spark)
    toks = (docs.select(F.col(lang_col).alias("lang"),
                        F.explode(F.split(F.col(text_col), " ")).alias("tok"))
            .filter((F.col("tok") != "") & F.col("tok").rlike("^[!-~]+$"))
            .select("lang", F.lower(F.col("tok")).alias("tok"))
            .distinct())
    toks = ensure_parallelism(toks).persist()
    try:
        sizes = {r["lang"]: r["cnt"] for r in
                 toks.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
                 .collect()}
        if not sizes:
            return spark.createDataFrame(
                [], "lang_a string, lang_b string, distinct_a long, "
                    "exact_overlap long, est_overlap long, "
                    "containment double, within_bound boolean")
        capacity = max(sizes.values())
        from .sketch_agg import grouped_sketches
        spec = SketchSpec.make("bloom", "tok", capacity=capacity,
                               error_rate=error_rate, sizing="standard")
        grouped = grouped_sketches(toks, ["lang"], spec).collect()
        blobs = {r["lang"]: bytes(r["sketch"]) for r in grouped}
        bc = spark.sparkContext.broadcast(blobs)

        def probe(iterator):
            from ..sketch.hashing import raw_key_matrices
            blooms = {name: BloomFilter.from_bytes(blob)
                      for name, blob in bc.value.items()}
            hits: dict[tuple, int] = {}
            for batch in iterator:
                for lang_a, sub in batch.groupby("lang", sort=False):
                    series = sub["tok"]
                    mats = list(raw_key_matrices(series))
                    for lang_b, bloom in blooms.items():
                        if lang_b == lang_a:
                            continue
                        n_hit = 0
                        for _idx, mat in mats:
                            n_hit += int(bloom.contains_batch(mat).sum())
                        key = (lang_a, lang_b)
                        hits[key] = hits.get(key, 0) + n_hit
            yield pd.DataFrame({
                "lang_a": [k[0] for k in hits],
                "lang_b": [k[1] for k in hits],
                "hits": list(hits.values()),
            })

        est = (toks.mapInPandas(
                   probe, schema="lang_a string, lang_b string, hits long")
               .groupBy("lang_a", "lang_b")
               .agg(F.sum("hits").alias("est_overlap")))

        a = toks.select(F.col("lang").alias("lang_a"), "tok")
        b = toks.select(F.col("lang").alias("lang_b"), "tok")
        exact = (a.join(b, "tok")
                 .filter(F.col("lang_a") != F.col("lang_b"))
                 .groupBy("lang_a", "lang_b")
                 .agg(F.count(F.lit(1)).alias("exact_overlap")))

        sizes_df = spark.createDataFrame(
            [(k, v) for k, v in sizes.items()], "lang_a string, distinct_a long")
        # binomial FP slack: probes·p mean + a fat deterministic tail
        slack = (F.lit(float(error_rate)) * F.col("distinct_a") * 10
                 + F.lit(25.0))
        out = (exact.join(F.broadcast(sizes_df), "lang_a")
               .join(F.broadcast(est), ["lang_a", "lang_b"], "left")
               .select(
                   "lang_a", "lang_b", "distinct_a", "exact_overlap",
                   F.coalesce("est_overlap", F.lit(0)).alias("est_overlap"),
                   F.round(F.col("exact_overlap")
                           / F.col("distinct_a"), 6).alias("containment"))
               .withColumn(
                   "within_bound",
                   (F.col("est_overlap") >= F.col("exact_overlap"))
                   & (F.col("est_overlap")
                      <= F.col("exact_overlap") + slack)))
        out = out.localCheckpoint(eager=True)
    finally:
        toks.unpersist()
    return out
