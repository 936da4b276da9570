"""The three benchmark workloads.

Each workload writes its seeded inputs, computes the exact answers its
checks need (before set-up), does the program's one-time work in
set-up, runs one operation through the program's public functions, and
checks that operation's output.

* ``classify``: the facs query path, the read side.  One operation is
  ``classify_pages`` -> ``contamination_counters(...).collect()`` over
  the pages table, probing a reference Bloom built once in set-up.
* ``build``: the facs build path plus approximate aggregation, the
  write side.  One operation builds a Bloom over every page k-gram,
  per-lang HLL(url) and KLL(length(text)), and a CMS over tokens.
* ``sketch_queries``: driver-contract queries, one query per
  operation, each compared with its DuckDB oracle answer.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np

from inputs import pages_frame, write_parquet, write_tables

K = 15  # k-gram length of the facs path (the program's default)
QUANTILES = (0.01, 0.25, 0.5, 0.75, 0.99)

PAGES = 100_000  # pages table of classify and build

# The sketch-query list, in the order it is run, with the tables each
# query reads (their rows are the query's input rows).  One pass covers
# the Bloom probe side (q02, q03) and the HLL, CMS and KLL build side
# through the driver contract.
QUERY_TABLES = {
    "q02_bloom_semijoin": ("part", "lineitem"),
    "q03_contamination_report": ("documents",),
    "q05_hll_distinct": ("documents",),
    "q06_cms_heavy_hitters": ("documents",),
    "q08_kll_quantiles": ("documents",),
}
QUERIES = tuple(QUERY_TABLES)


class Workload:
    """One workload: inputs, exact answers, set-up, operation, check."""

    name = ""
    # the first pass takes up to twice as long as the next (JIT of the
    # scan and Arrow paths, first imports and Bloom touch in the workers)
    warmup_passes = 1

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.smoke = smoke
        self.dir = ""

    def write_inputs(self, out_dir: str) -> None:
        raise NotImplementedError

    def prepare(self, names: list[str]) -> None:
        """Exact answers for the checks of operations ``names``; runs
        before set-up."""

    def one_time(self, spark) -> None:
        """The program's one-time work, timed inside set-up."""

    def op_names(self) -> list[str]:
        """Operation names of one pass."""
        return [self.name]

    def run(self, spark, op: str, spans):
        raise NotImplementedError

    def check(self, op: str, out) -> tuple[bool, str]:
        raise NotImplementedError

    def rows(self, op: str) -> int:
        """Input rows one operation processes."""
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics the workload itself measured."""
        return {}

    def op_layers(self, op: str, seconds: float, spark_metrics: dict,
                  span_s, job_s) -> dict[str, float]:
        """Per-layer metrics of one traced operation.  ``span_s(*names)``
        is the time of the runner's spans of those names, ``job_s(*names)``
        the Spark job time started inside them."""
        return {}


# ---------------------------------------------------------------- classify
class Classify(Workload):
    name = "classify"

    def __init__(self, seed, smoke):
        super().__init__(seed, smoke)
        self.n_pages = 2_000 if smoke else PAGES
        self.first = None

    def write_inputs(self, out_dir):
        self.dir = out_dir
        pdf = pages_frame(self.n_pages, self.seed)
        write_parquet(pdf, os.path.join(out_dir, "pages.parquet"))
        self.labelled = int(pdf["is_contam"].sum())
        self.pages = pdf

    def one_time(self, spark):
        from facs_spark.io.synth import reference_corpus_batch
        from facs_spark.ops.contamination import build_reference_bloom
        ref = spark.createDataFrame(reference_corpus_batch())
        self.bloom = build_reference_bloom(ref, k=K)

    def run(self, spark, op, spans):
        from facs_spark.ops.contamination import (classify_pages,
                                                  contamination_counters)
        df = spark.read.parquet(os.path.join(self.dir, "pages.parquet"))
        with spans.span("ops.classify_pages"):
            classified = classify_pages(df, self.bloom)
        return contamination_counters(classified).collect()[0].asDict()

    def check(self, op, out):
        if self.first is None:
            self.first = out
        if out != self.first:
            return False, f"counters changed between runs: {out}"
        if out["total_read_count"] != self.n_pages:
            return False, f"total_read_count {out['total_read_count']}"
        err = abs(out["contaminated_reads"] - self.labelled)
        if err > 0.01 * self.labelled:
            return False, (f"contaminated {out['contaminated_reads']} vs "
                           f"labelled {self.labelled}")
        return True, ""

    def rows(self, op):
        return self.n_pages

    def layer_metrics(self):
        return {"ops.broadcast_bytes": len(self.bloom.to_bytes())}

    def op_layers(self, op, seconds, spark_metrics, span_s, job_s):
        return {"ops.classify_pages_s": span_s("ops.classify_pages")}


# ---------------------------------------------------------------- build
class Build(Workload):
    name = "build"
    # Explicit capacity, 10 per page: 1.8 MB per partial at PAGES, as a
    # 10M-capacity (18 MB) filter is at ~1M pages, so blob bytes per page
    # match the full-size job.
    CAPACITY = 10 * PAGES
    FILES = 4  # part files: one scan split, so one set of partials, each
    ERROR_RATE = 0.0005
    N_PROBES = 200_000

    def __init__(self, seed, smoke):
        super().__init__(seed, smoke)
        self.n_pages = 2_000 if smoke else PAGES
        self.last: dict[str, float] = {}

    def write_inputs(self, out_dir):
        self.dir = out_dir
        self.pages = pages_frame(self.n_pages, self.seed)
        write_parquet(self.pages, os.path.join(out_dir, "pages.parquet"),
                      files=self.FILES)

    def prepare(self, names):
        from facs_spark.kernels.shingle import shingle_batch
        pdf = self.pages
        rng = np.random.default_rng(self.seed)
        # members: every window of 50 seed-chosen pages
        pick = rng.choice(len(pdf), size=min(50, len(pdf)), replace=False)
        self.members = shingle_batch(pdf["text"].iloc[np.sort(pick)].tolist(),
                                     K).windows.copy()
        # non-members: digit strings; page text holds no digits
        self.probes = rng.integers(ord("0"), ord("9") + 1,
                                   size=(self.N_PROBES, K), dtype=np.uint8)
        self.exact_urls = pdf.groupby("lang")["url"].nunique().to_dict()
        self.lengths = {lang: np.sort(g.str.len().to_numpy())
                        for lang, g in pdf.groupby("lang")["text"]}
        counts = Counter(w for t in pdf["text"] for w in t.split(" ") if w)
        self.top_tokens = counts.most_common(10)

    def run(self, spark, op, spans):
        from pyspark.sql import functions as F

        from facs_spark.ops.contamination import build_reference_bloom
        from facs_spark.ops.sketch_agg import (SketchSpec, build_sketch,
                                               grouped_sketches)
        df = spark.read.parquet(os.path.join(self.dir, "pages.parquet"))
        with spans.span("ops.build_reference_bloom"):
            bloom = build_reference_bloom(df, k=K, capacity=self.CAPACITY,
                                          error_rate=self.ERROR_RATE)
        with spans.span("ops.grouped_sketches"):
            hll = grouped_sketches(df, ["lang"], SketchSpec.make(
                "hll", "url", p=14)).collect()
            kll = grouped_sketches(
                df.select("lang", F.length("text").alias("text_len")),
                ["lang"], SketchSpec.make("kll", "text_len", k=200)).collect()
        with spans.span("ops.build_sketch"):
            cms, _rows = build_sketch(df, SketchSpec.make(
                "cms", "text", prep="tokens"))
        return {"bloom": bloom, "cms": cms,
                "hll": {r["lang"]: bytes(r["sketch"]) for r in hll},
                "kll": {r["lang"]: bytes(r["sketch"]) for r in kll}}

    def check(self, op, out):
        from facs_spark.sketch import sketch_from_bytes
        bloom, cms = out["bloom"], out["cms"]
        if not bloom.contains_batch(self.members).all():
            return False, "Bloom false negative"
        fp = int(bloom.contains_batch(self.probes).sum())
        mean = self.ERROR_RATE * self.N_PROBES
        ratios = {"bloom_fpr": fp / (mean + 3 * math.sqrt(mean) + 3)}
        for lang, exact in self.exact_urls.items():
            est = sketch_from_bytes(out["hll"][lang]).estimate()
            bound = 3 * 1.04 / math.sqrt(1 << 14) * exact + 1
            ratios[f"hll.{lang}"] = abs(est - exact) / bound
        for lang, vals in self.lengths.items():
            kll = sketch_from_bytes(out["kll"][lang])
            worst = 0.0
            for q in QUANTILES:
                v = kll.quantile(q)
                lo = np.searchsorted(vals, v, side="left") / vals.size
                hi = np.searchsorted(vals, v, side="right") / vals.size
                worst = max(worst, max(lo - q, q - hi, 0.0))
            ratios[f"kll.{lang}"] = worst / kll.rank_error
        ests = cms.query_batch([t for t, _c in self.top_tokens])
        for (tok, exact), est in zip(self.top_tokens, ests):
            if est < exact:
                return False, f"CMS under-count for {tok!r}"
            ratios[f"cms.{tok}"] = (est - exact) / cms.error_bound
        worst_key = max(ratios, key=ratios.get)
        sketch_bytes = (len(bloom.to_bytes()) + len(cms.to_bytes())
                        + sum(map(len, out["hll"].values()))
                        + sum(map(len, out["kll"].values())))
        self.last = {"sketch.final_bytes": sketch_bytes,
                     "sketch.bloom_fpr": fp / self.N_PROBES,
                     "sketch.bloom_fill_ratio":
                         bloom.bits_set / bloom.stat.elements,
                     "sketch.error_to_bound": ratios[worst_key]}
        if ratios[worst_key] > 1.0:
            return False, f"{worst_key} outside its bound ({ratios[worst_key]:.2f})"
        return True, ""

    def rows(self, op):
        return self.n_pages

    def layer_metrics(self):
        return dict(self.last)

    def op_layers(self, op, seconds, spark_metrics, span_s, job_s):
        builds = ("ops.build_reference_bloom", "ops.build_sketch")
        partials = job_s(*builds)
        return {
            "ops.partials_s": partials,
            "ops.tree_merge_s": max(0.0, span_s(*builds) - partials),
            "ops.grouped_sketches_s": span_s("ops.grouped_sketches"),
            "ops.partial_blobs": spark_metrics.get("MapInPandas.output_rows", 0),
            "ops.partial_blob_bytes": spark_metrics.get(
                "MapInPandas.session.arrow_from_python_bytes", 0),
            "ops.merge_levels": spark_metrics.get(
                "operators.FlatMapGroupsInPandas", 0),
        }


# ---------------------------------------------------------------- queries
class SketchQueries(Workload):
    name = "sketch_queries"

    def __init__(self, seed, smoke):
        super().__init__(seed, smoke)
        self.scale = 0.01 if smoke else 0.1
        self.want = {}

    def write_inputs(self, out_dir):
        self.dir = out_dir
        self.table_rows = write_tables(out_dir, self.seed, self.scale)

    def op_names(self):
        return list(QUERIES)

    def prepare(self, names):
        """DuckDB oracle answers of the queries in ``names``."""
        import duckdb

        from facs_spark.queries import oracle_sql
        from tools.check_correctness import normalize
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            sql = oracle_sql()
            for q in names:
                if q not in self.want:
                    self.want[q] = normalize(con.execute(sql[q]).df())
        finally:
            con.close()

    def run(self, spark, op, spans):
        from facs_spark.queries import queries
        return queries()[op](spark, self.dir).toPandas()

    def check(self, op, out):
        from tools.check_correctness import normalize, values_equal
        got, want = normalize(out), self.want[op]
        if list(got.columns) != list(want.columns):
            return False, f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return False, f"rows {len(got)} != {len(want)}"
        for c in got.columns:
            for a, b in zip(got[c], want[c]):
                if not values_equal(a, b):
                    return False, f"column {c}: {a!r} != {b!r}"
        return True, ""

    def rows(self, op):
        return sum(self.table_rows[t] for t in QUERY_TABLES[op])

    def op_layers(self, op, seconds, spark_metrics, span_s, job_s):
        return {f"queries.{op}_s": seconds}


WORKLOADS = {w.name: w for w in (Classify, Build, SketchQueries)}
