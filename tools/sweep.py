"""Accuracy-sweep harness: the executable analogue of the reference's
offline ROC/proportion studies (/root/reference/doc/ROC.m:57-118 plots
hardcoded TP/all grids over a k-mer-size × threshold sweep;
/root/reference/doc/prop.m:33-41 plots hit proportions).  Here the
grid is actually RUN: a deterministic labeled contamination mix is
synthesized, one Bloom filter is built per k, every page is scored
once per k, and all tolerance cuts are evaluated from the scored
output in a single aggregation — emitting TP/FP/TN/FN and TPR/FPR per
(k, tole) grid point.

    python tools/sweep.py --pages 5000 --contam-frac 0.3 \
        --k-grid 9,12,15,18 --tole-grid 0.1,0.2,0.4,0.6,0.8 \
        [--format tsv|json] [--out sweep.tsv]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from facs_spark.io.synth import reference_corpus_batch, synth_pages  # noqa: E402
from facs_spark.ops.contamination import (build_reference_bloom,  # noqa: E402
                                          classify_pages)
from facs_spark.session import get_spark  # noqa: E402


def sweep(spark, n_pages: int, contam_frac: float, k_grid, tole_grid,
          seed: int = 6666520666, error_rate: float = 1e-4) -> list[dict]:
    """One classify pass per k; every tole cut folded into one agg of
    conditional sums (the score does not depend on tole — only the
    final ``escalated AND score >= tole`` cut does)."""
    pages = synth_pages(spark, n_pages, seed=seed,
                        contam_frac=contam_frac, with_labels=True).cache()
    ref = spark.createDataFrame(reference_corpus_batch(seed=seed + 1))
    rows: list[dict] = []
    for k in k_grid:
        bloom = build_reference_bloom(ref, text_col="text", k=k,
                                      error_rate=error_rate)
        scored = classify_pages(pages, bloom, text_col="text",
                                passthrough=("is_contam",),
                                tole_rate=min(tole_grid))
        conds = []
        for i, tole in enumerate(tole_grid):
            pred = F.col("escalated") & (F.col("match_score") >= tole)
            conds += [
                F.sum((pred & F.col("is_contam")).cast("long"))
                 .alias(f"tp{i}"),
                F.sum((pred & ~F.col("is_contam")).cast("long"))
                 .alias(f"fp{i}"),
                F.sum((~pred & F.col("is_contam")).cast("long"))
                 .alias(f"fn{i}"),
                F.sum((~pred & ~F.col("is_contam")).cast("long"))
                 .alias(f"tn{i}"),
            ]
        agg = scored.agg(*conds).collect()[0].asDict()
        for i, tole in enumerate(tole_grid):
            tp, fp = agg[f"tp{i}"], agg[f"fp{i}"]
            fn, tn = agg[f"fn{i}"], agg[f"tn{i}"]
            rows.append({
                "k": k, "tole": tole, "tp": tp, "fp": fp,
                "fn": fn, "tn": tn,
                "tpr": tp / max(tp + fn, 1),
                "fpr": fp / max(fp + tn, 1),
            })
    pages.unpersist()
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=5000)
    ap.add_argument("--contam-frac", type=float, default=0.3)
    ap.add_argument("--k-grid", default="9,12,15,18")
    ap.add_argument("--tole-grid", default="0.1,0.2,0.4,0.6,0.8")
    ap.add_argument("--seed", type=int, default=6666520666)
    ap.add_argument("--format", default="tsv", choices=["tsv", "json"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    k_grid = [int(x) for x in args.k_grid.split(",")]
    tole_grid = [float(x) for x in args.tole_grid.split(",")]
    spark = get_spark("facs_sweep")
    rows = sweep(spark, args.pages, args.contam_frac, k_grid, tole_grid,
                 seed=args.seed)
    if args.format == "json":
        text = "\n".join(json.dumps(r) for r in rows) + "\n"
    else:
        cols = ["k", "tole", "tp", "fp", "fn", "tn", "tpr", "fpr"]
        text = "\t".join(cols) + "\n" + "\n".join(
            "\t".join(f"{r[c]:.6f}" if isinstance(r[c], float)
                      else str(r[c]) for c in cols) for r in rows) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
