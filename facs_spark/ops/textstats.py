"""Text-analysis operators for the training-data pipeline: language
ID, quality scoring, token counting, document fingerprinting.

Everything is expressed with built-in ``pyspark.sql.functions`` where
possible (JVM-side, whole-stage codegen) — Python kernels only where
Spark has no primitive (winnowing fingerprints).  Each op's SQL-
expressible core has an exact DuckDB oracle in queries.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..session import ensure_parallelism, ensure_shipped

# Marker-token tables for the n-gram/stopword language heuristic.
# Deliberately tiny and transparent so the oracle can restate them.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "en"),
    "sv": ("och", "att", "det", "som", "en"),
}
DEFAULT_LANG = "und"


def marker_count(text_col: Column, markers: tuple[str, ...]) -> Column:
    """# occurrences of any marker token (word-boundary regex, JVM-side)."""
    pattern = r"\b(" + "|".join(markers) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(pattern), 1))


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_guess") -> DataFrame:
    """Heuristic language ID: argmax of marker-token counts.

    Ties break by language code order; all-zero → 'und'.  Kept simple
    enough to restate exactly in SQL (the oracle), which is the point:
    the operator under test is the scalable scoring plumbing, not a
    state-of-the-art classifier.
    """
    counts = [marker_count(F.col(text_col), m).alias(f"_c_{code}")
              for code, m in LANG_MARKERS.items()]
    tmp = df.select("*", *counts)
    best = None
    best_count = F.lit(0)
    for code in LANG_MARKERS:  # first max wins (dict order = priority)
        c = F.col(f"_c_{code}")
        cond = c > best_count
        best = F.when(cond, F.lit(code)).otherwise(
            best if best is not None else F.lit(DEFAULT_LANG))
        best_count = F.when(cond, c).otherwise(best_count)
    out = tmp.withColumn(out_col, best)
    return out.drop(*[f"_c_{code}" for code in LANG_MARKERS])


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features, JVM-side."""
    t = F.col(text_col)
    n_chars = F.length(t)
    tokens = F.split(t, " ")
    n_tokens = F.size(F.filter(tokens, lambda x: x != F.lit("")))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_stop = marker_count(t, LANG_MARKERS["en"])
    mean_tok_len = F.when(n_tokens > 0,
                          (n_chars - (n_tokens - 1)) / n_tokens).otherwise(0.0)
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        (n_alpha / F.greatest(n_chars, F.lit(1))).alias("q_alpha_ratio"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (n_stop / F.greatest(n_tokens, F.lit(1))).alias("q_stopword_ratio"),
        mean_tok_len.alias("q_mean_token_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from the features (fixed weights)."""
    feat = quality_features(df, text_col)
    len_ok = F.when((F.col("q_tokens") >= 10) & (F.col("q_tokens") <= 100000),
                    F.lit(1.0)).otherwise(F.lit(0.0))
    score = (0.4 * len_ok
             + 0.3 * F.least(F.col("q_alpha_ratio") * 1.25, F.lit(1.0))
             + 0.2 * F.least(F.col("q_stopword_ratio") * 10, F.lit(1.0))
             + 0.1 * (1.0 - F.least(F.col("q_punct_ratio") * 5, F.lit(1.0))))
    return feat.withColumn("quality_score", score)


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish subword token counts (both JVM-side).

    ``tokens_ws``: non-empty whitespace-split tokens.
    ``tokens_bpe``: matches of a GPT-2-style pre-tokenizer regex
    (letter runs, digit runs, single punctuation, leading-space
    variants folded) — a deterministic proxy for BPE token count.
    """
    t = F.col(text_col)
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")))
    bpe_pattern = r"([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])"
    bpe = F.size(F.regexp_extract_all(t, F.lit(bpe_pattern), 1))
    return df.select("*", ws.alias("tokens_ws"), bpe.alias("tokens_bpe"))


# ---------------------------------------------------------- fingerprint
def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003).

    Rolling k-gram hashes; each sliding window of ``window`` hashes
    contributes its minimum → a compact, position-robust fingerprint
    set.  Emits (id, fingerprint) rows; vectorized per batch.
    """
    ensure_shipped(df.sparkSession)

    def kernel(iterator):
        from numpy.lib.stride_tricks import sliding_window_view

        from ..kernels.shingle import shingle_batch
        from ..sketch.hashing import hash3_matrix
        for batch in iterator:
            sb = shingle_batch(batch[text_col].tolist(), k)
            ids_out = np.zeros(0, dtype=np.int64)
            fps_out = np.zeros(0, dtype=np.int64)
            if sb.windows.shape[0]:
                h = hash3_matrix(sb.windows, 0)
                ids = batch[id_col].to_numpy()
                n_wins = np.maximum(sb.doc_lengths - k + 1, 0)
                starts = np.zeros(sb.doc_lengths.size + 1, dtype=np.int64)
                np.cumsum(n_wins, out=starts[1:])
                # ONE sliding-window min over the whole batch's hash
                # stream with doc-boundary masking (no per-doc loop):
                # a global window starting at p belongs to doc d =
                # searchsorted(starts, p) and is valid iff it ends
                # inside the same doc.
                w = window
                if h.size >= w:
                    sw_min = sliding_window_view(h, w).min(axis=1)
                    pos = np.arange(h.size - w + 1)
                    d_of = np.searchsorted(starts, pos, "right") - 1
                    valid = pos + w <= starts[d_of + 1]
                    docs_full = d_of[valid]
                    mins_full = sw_min[valid]
                else:
                    docs_full = np.zeros(0, dtype=np.int64)
                    mins_full = np.zeros(0, dtype=h.dtype)
                # docs too short for a full window contribute their
                # whole-slice min; docs are contiguous in h, so one
                # reduceat over every nonempty doc start yields all
                # whole-doc mins in a single pass
                has = np.flatnonzero(n_wins > 0)
                doc_mins = (np.minimum.reduceat(h, starts[has])
                            if has.size else np.zeros(0, dtype=h.dtype))
                short = (n_wins[has] > 0) & (n_wins[has] < w)
                docs_all = np.concatenate([docs_full, has[short]])
                mins_all = np.concatenate([mins_full, doc_mins[short]])
                if docs_all.size:
                    # per-doc unique: lexsort (doc, value), keep run heads
                    order = np.lexsort((mins_all, docs_all))
                    dv, vv = docs_all[order], mins_all[order]
                    keep = np.ones(dv.size, dtype=bool)
                    keep[1:] = (dv[1:] != dv[:-1]) | (vv[1:] != vv[:-1])
                    ids_out = ids[dv[keep]]
                    fps_out = (vv[keep] >> np.uint64(1)).astype(np.int64)
            yield pd.DataFrame({id_col: ids_out, "fingerprint": fps_out})

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=f"{id_col} long, fingerprint long")


def doc_digests(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whole-document digests, JVM-side: md5 + crc32 + length."""
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("md5"),
        F.crc32(F.col(text_col)).alias("crc32"),
        F.length(F.col(text_col)).alias("text_len"))


def repetition_ratio(df: DataFrame, id_col: str, text_col: str,
                     shingle_n: int = 3) -> DataFrame:
    """Within-document repetition: 1 − distinct/total token
    ``shingle_n``-gram windows — the standard boilerplate/spam
    quality signal (a doc that repeats the same phrases has few
    distinct windows).  Rides the shared vectorized shingle kernel
    (``ops/dedup._shingle_hashes(with_totals=True)``), so the cost is
    one batch pass with no per-token Python; 0.0 for empty docs.
    Output: (id, total_shingles, distinct_shingles, repetition).
    """
    ensure_shipped(df.sparkSession)

    def kernel(iterator):
        from facs_spark.ops.dedup import _shingle_hashes
        for batch in iterator:
            sets_, totals = _shingle_hashes(batch[text_col].tolist(),
                                            shingle_n, with_totals=True)
            uniq = np.fromiter((h.size for h in sets_), dtype=np.int64,
                               count=len(sets_))
            rep = np.where(totals > 0,
                           1.0 - uniq / np.maximum(totals, 1), 0.0)
            yield pd.DataFrame({id_col: batch[id_col],
                                "total_shingles": totals,
                                "distinct_shingles": uniq,
                                "repetition": rep})

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        kernel, schema=(f"{id_col} long, total_shingles long, "
                        "distinct_shingles long, repetition double"))


def bm25_topk(df: DataFrame, query_terms: list[str], id_col: str = "doc_id",
              text_col: str = "text", k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              n_docs: int | None = None,
              sum_dl: int | None = None) -> DataFrame:
    """Okapi BM25 top-k retrieval over a document corpus, entirely in
    JVM-side expressions (Robertson/Sparck Jones; the standard
    ``ln(1+(N-df+0.5)/(df+0.5))`` idf).

    Scale shape: document length is a map-side array expression (no
    tokenization shuffle), the token explode is filtered to the QUERY
    terms in the same stage, so the grouped tf/df aggregations carry
    only matching-token rows (|q| ≪ vocabulary), never the full
    posting table; corpus stats (N, Σdl) are one shared agg the
    caller can precompute and pass in (e.g. maintained incrementally
    alongside a snaptable); the final top-k is a TakeOrdered, not a
    global sort.  Per-term scores are fixed-point rounded (1e-4)
    BEFORE the per-document sum, so the total is an order-independent
    integer sum — deterministic under any partitioning and
    bit-reproducible by an external engine (the q50 DuckDB oracle
    replays the identical expression tree).

    Returns (id, score_e4, rank) for the top ``k`` docs, ranked by
    fixed-point score with id as the tie-break.
    """
    from pyspark.sql.window import Window
    base = df.select(
        id_col,
        F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                 lambda x: x != "").alias("toks"))
    dl = base.select(id_col, F.size("toks").alias("dl"))
    if n_docs is None or sum_dl is None:
        row = dl.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0]
        n_docs = int(row[0]) if n_docs is None else n_docs
        sum_dl = int(row[1] or 0) if sum_dl is None else sum_dl
    qt = (base.select(id_col, F.explode("toks").alias("term"))
          .filter(F.col("term").isin([t.lower() for t in query_terms])))
    tf = qt.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # mirror of the oracle's expression tree — identical literal
    # parses + identical association ⇒ identical IEEE doubles
    idf = F.log(F.lit(1) + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1) - F.lit(b)
                + F.lit(b) * F.col("dl") * F.lit(n_docs) / F.lit(sum_dl)))
    term_score = idf * (F.col("tf") * (F.lit(k1) + F.lit(1))) / denom
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(dl, id_col)
              .select(id_col,
                      F.round(term_score * F.lit(10000.0), 0)
                      .cast("long").alias("score_e4")))
    return (scored.groupBy(id_col)
            .agg(F.sum("score_e4").alias("score_e4"))
            .orderBy(F.desc("score_e4"), F.asc(id_col))
            .limit(k)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("score_e4"), F.asc(id_col)))))


# ------------------------------------------------------ gopher rules
# Gopher-style document quality rules (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", table A1 — thresholds adapted).  Pure
# JVM expression code: one regexp/arithmetic pass per rule inside
# whole-stage codegen, no Python, no shuffle — a 100-TB corpus pays
# one map over row groups.  Every expression is restated verbatim by
# the q61 DuckDB oracle, so patterns stick to the Java-regex ∩ RE2
# common subset (no backrefs/lookaround).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "to", "in", "with", "that")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_ratio: float = 0.3,
                 min_alpha_word_ratio: float = 0.8,
                 min_stopwords: int = 2) -> DataFrame:
    """Per-doc Gopher rule columns + the conjunctive ``keep`` flag.

    Emitted columns (all derived JVM-side):

    * ``g_words`` — non-empty whitespace tokens;
    * ``g_mean_word_len`` — non-whitespace chars / words;
    * ``g_symbol_ratio`` — ``#``/ellipsis marks per word;
    * ``g_bullet_ratio`` / ``g_ellipsis_ratio`` — fraction of lines
      starting with a bullet / ending with "...";
    * ``g_alpha_ratio`` — fraction of words containing a letter;
    * ``g_stopwords`` — how many distinct required stopwords appear;
    * ``keep`` — AND of all eight thresholds.
    """
    t = F.col(text_col)
    n_words = F.size(F.filter(F.split(F.trim(t), r"\s+"),
                              lambda x: x != F.lit("")))
    n_words_safe = F.greatest(n_words, F.lit(1))
    mean_wl = (F.length(F.regexp_replace(t, r"\s+", ""))
               / n_words_safe)
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\."))
    n_lines = F.size(F.split(t, r"\n"))
    n_bullet = F.regexp_count(t, F.lit(r"(?m)^[-*•]"))
    n_ellipsis = F.regexp_count(t, F.lit(r"(?m)\.\.\.$"))
    # whitespace-prefixed tokens containing a letter; the prepended
    # space makes the first token count too
    n_alpha_words = F.regexp_count(F.concat(F.lit(" "), t),
                                   F.lit(r"\s[^\s]*[A-Za-z]"))
    # ONE alternation pass over the lowered text instead of one
    # rlike scan per stopword (8 full regex passes → 1): the distinct
    # captured words ARE the set of stopwords present, so the count
    # of distinct matches equals the old sum of per-word indicators
    n_stop = F.size(F.array_distinct(F.regexp_extract_all(
        F.lower(t),
        F.lit(r"\b(" + "|".join(GOPHER_STOPWORDS) + r")\b"), 1)))
    feats = df.select(
        "*",
        n_words.alias("g_words"),
        F.round(mean_wl, 6).alias("g_mean_word_len"),
        F.round(n_symbols / n_words_safe, 6).alias("g_symbol_ratio"),
        F.round(n_bullet / n_lines, 6).alias("g_bullet_ratio"),
        F.round(n_ellipsis / n_lines, 6).alias("g_ellipsis_ratio"),
        F.round(n_alpha_words / n_words_safe, 6).alias("g_alpha_ratio"),
        n_stop.cast("long").alias("g_stopwords"))
    keep = ((F.col("g_words") >= min_words)
            & (F.col("g_words") <= max_words)
            & (F.col("g_mean_word_len") >= min_mean_word_len)
            & (F.col("g_mean_word_len") <= max_mean_word_len)
            & (F.col("g_symbol_ratio") <= max_symbol_ratio)
            & (F.col("g_bullet_ratio") <= max_bullet_ratio)
            & (F.col("g_ellipsis_ratio") <= max_ellipsis_ratio)
            & (F.col("g_alpha_ratio") >= min_alpha_word_ratio)
            & (F.col("g_stopwords") >= min_stopwords))
    return feats.withColumn("keep", keep)


# ------------------------------------------------- n-gram LM scoring
def lm_doc_score(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 alpha: float = 0.5) -> DataFrame:
    """Corpus-trained unigram-LM quality score per document — the
    CCNet/KenLM-style "perplexity bucket" signal, self-trained on the
    corpus itself (no external model): score(d) = mean over tokens of
    ln((c(tok)+α) / (N+α·V)) with add-α smoothing.

    EXACT two-shuffle shape (train: groupBy token; score: join tokens
    back to counts + groupBy doc).  At 10¹²-page scale the token-count
    table is itself huge — use :func:`lm_doc_score_cms`, which ships a
    broadcast CMS+HLL instead of joining, turning scoring into a pure
    map.  This exact form is the oracle (q62) and the property-test
    ground truth for the sketch form.
    """
    # single-space split — the library's ONE tokenization for
    # sketch/oracle parity (see sketch_agg prep="tokens")
    # counts (model-sized) feeds the totals agg AND the scoring
    # join — materialized once; the corpus-scale token stream is
    # recomputed by its two consumers on purpose (see bigram form)
    toks = (df.select(id_col,
                      F.explode(F.split(F.col(text_col), " ")).alias("tok"))
            .filter(F.col("tok") != ""))
    counts = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
              .localCheckpoint(eager=True))
    row = counts.agg(F.sum("c"), F.count(F.lit(1))).collect()[0]
    n_total, vocab = int(row[0] or 0), int(row[1])
    logp = F.log((F.col("c") + F.lit(alpha))
                 / (F.lit(n_total) + F.lit(alpha) * F.lit(vocab)))
    scored = toks.join(counts.withColumn("logp", logp).drop("c"), "tok")
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("logp"), 6).alias("lm_score")))


def lm_doc_score_bigram(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        alpha: float = 0.5) -> DataFrame:
    """Corpus-trained BIGRAM LM doc score — the conditional upgrade
    of :func:`lm_doc_score` (the CCNet/KenLM signal uses a 5-gram;
    the bigram is the first-order form with the same training and
    smoothing shape): score(d) = mean over adjacent token pairs of
    ln((C(w1,w2)+α) / (C1(w1)+α·V)), with C1 the corpus unigram
    counts and V the unigram vocabulary.  Docs with < 2 tokens have
    no bigrams and emit no row (same convention as the unigram form
    dropping empty docs).

    Scale shape: pair extraction is pure JVM (slice + arrays_zip +
    one explode — no lambda HOF); training is two map-side-combined
    groupBys (pair table, unigram table), and the unigram count is
    folded into the bigram table at TRAINING time (a table-sized
    join on w1), so the pair stream joins the model exactly ONCE —
    the pair stream is the corpus-scale object, the model tables are
    not.  The model can exceed broadcast at corpus scale, where AQE
    plans a sort-merge join on the short token-pair keys (never full
    text).  V collects as one bounded 1-row agg, like the unigram
    form.
    """
    t = F.trim(F.col(text_col))
    arr = F.when(F.length(t) == 0,
                 F.array().cast("array<string>")) \
           .otherwise(F.split(t, " +"))
    base = (df.select(F.col(id_col), arr.alias("_t"))
            .withColumn("_n", F.size("_t"))
            .where(F.col("_n") >= 2))
    # the MODEL-sized unigram table is materialized once (it feeds
    # both the vocab count and the model join); the corpus-scale
    # pair/token streams are deliberately NOT checkpointed — A/B at
    # sf1.0 showed materializing them costs more than the explode
    # recompute (r7).
    pairs = (base.select(
        id_col,
        F.explode(F.arrays_zip(
            F.slice("_t", 1, F.col("_n") - 1).alias("w1"),
            F.slice("_t", 2, F.col("_n") - 1).alias("w2"))).alias("p"))
        .select(F.col(id_col), F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2")))
    uni = (df.select(F.explode(F.split(F.col(text_col), " "))
                     .alias("w1"))
           .filter(F.col("w1") != "")
           .groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
           .localCheckpoint(eager=True))
    vocab = uni.count()
    big = (pairs.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("cb")))
    # fold C1(w1) into the bigram MODEL (model-sized join), not the
    # pair stream: one pair-stream exchange instead of two
    model = (big.join(uni, "w1")
             .select("w1", "w2",
                     F.log((F.col("cb") + F.lit(alpha))
                           / (F.col("cu") + F.lit(alpha)
                              * F.lit(vocab))).alias("logp")))
    scored = pairs.join(model, ["w1", "w2"])
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("logp"), 6).alias("lm2_score")))


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  min_entropy: float = 1.0) -> DataFrame:
    """Within-document Shannon entropy over the doc's own token
    distribution — the low-entropy screen for template/spam/
    keyword-stuffed pages (a standard quality-classifier feature;
    complements ``repetition_ratio``, which sees only adjacent
    n-gram repeats).

    entropy(d) = −Σ_t (c_t/n)·ln(c_t/n) = ln(n) − (Σ_t c_t·ln c_t)/n
    over d's token counts — the right-hand identity is what both the
    engine and the SQL oracle evaluate, so one pair of SUMs replaces
    a per-token probability column.  Docs with no tokens emit no row.

    Scale: one explode + two map-side-combined aggs keyed on
    (id, token) then (id) — the shuffles carry one row per DISTINCT
    token per doc, never positions.  ``keep`` = entropy ≥
    ``min_entropy`` (nats); singleton-token docs have entropy 0.
    """
    toks = (df.select(id_col,
                      F.explode(F.split(F.col(text_col), " "))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    per_tok = (toks.groupBy(id_col, "tok")
               .agg(F.count(F.lit(1)).alias("c")))
    ent = (F.log(F.col("n").cast("double"))
           - F.col("clc") / F.col("n"))
    return (per_tok.groupBy(id_col)
            .agg(F.sum("c").alias("n"),
                 F.sum(F.col("c") * F.log(F.col("c"))).alias("clc"))
            .select(F.col(id_col),
                    F.col("n").cast("long").alias("n_tokens"),
                    F.round(ent, 6).alias("entropy"),
                    (F.round(ent, 6) >= min_entropy).alias("keep")))


def lm_doc_score_cms(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", alpha: float = 0.5,
                     epsilon: float = 1e-5, delta: float = 1e-3
                     ) -> DataFrame:
    """Sketch-backed :func:`lm_doc_score` — the 100-TB shape.

    Train: ONE pass builds a count-min sketch of token counts plus an
    HLL vocabulary estimate (both mergeable partials, tree-merged —
    the library's standard sketch build).  Score: the merged blobs
    broadcast once per executor and a vectorized Arrow kernel maps
    each doc's tokens through ``cms.query_batch`` — no token join, no
    second shuffle beyond the per-doc groupBy already in the train
    pass's lineage.  CMS overestimate ≤ ε·N w.p. 1−δ ⇒ per-token
    log-prob error ≤ ln(1 + ε·N/(c+α)); the property test bounds the
    doc-score gap against the exact form.
    """
    from ..sketch.hll import HyperLogLog
    from .sketch_agg import SketchSpec, build_sketch

    cms, _ = build_sketch(df, SketchSpec.make(
        "cms", text_col, prep="tokens", epsilon=epsilon, delta=delta))
    hll, _ = build_sketch(df, SketchSpec.make(
        "hll", text_col, prep="tokens", p=14))
    n_total = cms.total
    vocab = max(1, int(round(hll.estimate())))
    blob = cms.to_bytes()
    denom = float(n_total + alpha * vocab)
    spark = df.sparkSession
    ensure_shipped(spark)
    bblob = spark.sparkContext.broadcast(blob)

    def kernel(iterator):
        from ..sketch.cms import CountMinSketch
        sk = CountMinSketch.from_bytes(bblob.value)
        for pdf in iterator:
            out_ids, out_n, out_s = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [w for w in str(text).split(" ") if w]
                if not toks:
                    continue
                est = sk.query_batch(toks).astype(np.float64)
                lp = np.log((est + alpha) / denom)
                out_ids.append(did)
                out_n.append(len(toks))
                out_s.append(float(lp.mean()))
            yield pd.DataFrame({
                id_col: pd.Series(out_ids, dtype="int64"),
                "n_tokens": pd.Series(out_n, dtype="int64"),
                "lm_score": pd.Series(out_s, dtype="float64")})

    src = ensure_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(
        kernel, schema=f"{id_col} long, n_tokens long, lm_score double")


# Unicode-block codepoint ranges (inclusive) per script — the same
# blocks as the q78 oracle's character classes ("[؀-ۿ]", ...,
# "[A-Za-zÀ-ɏ]").  Coarse by design: block membership, not the full
# Unicode Script property (fine for corpus routing; ICU-grade script
# detection slots in the same shape).
SCRIPT_CLASSES: tuple[tuple[str, tuple[tuple[int, int], ...]], ...] = (
    ("arabic", ((0x0600, 0x06FF),)),
    ("cjk", ((0x4E00, 0x9FFF),)),
    ("cyrillic", ((0x0400, 0x04FF),)),
    ("greek", ((0x0370, 0x03FF),)),
    ("latin", ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F))),
)


def script_profile(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document writing-script profile: count characters in each
    script's Unicode blocks and name the dominant script — the
    routing signal multilingual curation pipelines use next to
    ``lang_id`` (which reads trigram/stopword content; this reads the
    raw codepoint distribution, so it also catches mixed-script spam
    and mojibake).

    One vectorized Arrow kernel, zero shuffles: each batch's texts
    concatenate into a single UTF-32 codepoint array (one C-speed
    encode), every script's block becomes two numpy range compares,
    and per-doc counts fall out of ``np.add.reduceat`` — one pass
    over the bytes instead of the old five JVM ``regexp_count``
    scans (which dominated q78: 5 full regex passes + a struct
    array_sort argmax per row).  The dominant script is the highest
    count, ties going to the alphabetically first name, whatever the
    order of ``SCRIPT_CLASSES``.  Returns (id, <script>_chars...,
    dominant_script, script_chars).
    """
    names = [n for n, _ in SCRIPT_CLASSES]
    ranges = [rs for _, rs in SCRIPT_CLASSES]
    # np.argmax keeps the first maximum: scan the classes in name
    # order so a tie goes to the alphabetically first script
    by_name = np.argsort(names, kind="stable")

    def kernel(iterator):
        import numpy as np
        import pandas as pd
        for batch in iterator:
            null = batch[text_col].isna().to_numpy()
            texts = batch[text_col].where(~null, "").tolist()
            ndocs = len(texts)
            if ndocs == 0:
                continue
            buf = "".join(texts).encode("utf-32-le")
            cp = np.frombuffer(buf, dtype=np.uint32)
            lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                               count=ndocs)
            offs = np.zeros(ndocs, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            counts = np.zeros((len(names), ndocs), dtype=np.int64)
            for si, rs in enumerate(ranges):
                mask = np.zeros(cp.size, dtype=np.int64)
                for lo, hi in rs:
                    mask += ((cp >= lo) & (cp <= hi))
                # per-doc segment sums via one cumulative sum —
                # empty docs get 0 with no reduceat edge cases
                cs = np.zeros(cp.size + 1, dtype=np.int64)
                np.cumsum(mask, out=cs[1:])
                counts[si] = cs[offs + lens] - cs[offs]
            dom_idx = by_name[np.argmax(counts[by_name], axis=0)]
            out = {id_col: batch[id_col].to_numpy()}
            for si, n in enumerate(names):
                out[f"{n}_chars"] = counts[si]
            out["dominant_script"] = np.array(names, dtype=object)[dom_idx]
            out["script_chars"] = counts.sum(axis=0)
            pdf = pd.DataFrame(out)
            if null.any():
                # NULL text -> NULL counts and script, as SQL's
                # regexp_count(NULL) is NULL
                nulled = [c for c in out if c != id_col]
                pdf = pdf.astype({c: "Int64" for c in nulled
                                  if c != "dominant_script"})
                pdf.loc[null, nulled] = None
            yield pdf

    from ..session import ensure_parallelism
    schema = (f"{id_col} long, "
              + ", ".join(f"{n}_chars long" for n in names)
              + ", dominant_script string, script_chars long")
    return ensure_parallelism(df.select(id_col, text_col)) \
        .mapInPandas(kernel, schema=schema)


def hashed_linear_score(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", prefix: int = 3,
                        seed: int = 0) -> DataFrame:
    """fastText-style linear quality classifier over hashed
    bag-of-words features — the shape of every learned quality filter
    (CCNet's fastText lang/quality models, GPT-3's WebText-vs-crawl
    LR): score(d) = mean over tokens of w[bucket(token)], keep iff
    σ(score) > 0.5 (⇔ score > 0).

    The weight vector here is a deterministic hash stand-in
    (w[b] = 2·u−1 with u the md5('<seed>:'||b) 13-hex fraction — the
    repo-wide replayable-uniform convention) so the oracle can replay
    every score exactly; a trained model drops in as a broadcast
    ≤16**prefix-row weight table without changing the plan shape.

    Scale: bucketing and weights are pure JVM md5/conv expressions on
    the exploded token stream, one map-side-combined groupBy — no
    Python, no model shuffle, nothing but (id, double) rows exchange.
    """
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.trim(F.col(text_col)), " +"))
                      .alias("tok"))
            .where(F.col("tok") != ""))
    bucket = F.substring(F.md5(F.col("tok")), 1, prefix)
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{seed}:"), bucket)), 1, 13), 16, 10)
        .cast("double") + 0.5) / float(16 ** 13))
    w = u * 2.0 - 1.0
    return (toks.select(F.col(id_col), w.alias("_w"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.avg("_w").alias("score")))
