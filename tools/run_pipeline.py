"""Resumable sketch-pipeline job driver for ``spark-submit``.

The production entry (SURVEY §7.6): build a sketch over an input
table with per-split checkpoints, so a killed job resumes without
rescanning completed splits.

    zip -r facs_spark.zip facs_spark -i '*.py'
    spark-submit --py-files facs_spark.zip \
        tools/run_pipeline.py \
        --input /data/pages.parquet --column text \
        --sketch bloom --k 15 --error-rate 0.0005 \
        --checkpoint /ckpt/pages_bloom --splits 8

Each invocation processes any split whose checkpoint row is missing
(idempotent), then prints the merged sketch's info + lineage summary.
Splits are deterministic ``pmod(hash, n)`` slices of the input, so
the same split id always covers the same rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from facs_spark.ops.checkpoint import checkpoint_build, lineage  # noqa: E402
from facs_spark.ops.sketch_agg import KINDS, SketchSpec  # noqa: E402
from facs_spark.session import get_spark  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--column", required=True)
    ap.add_argument("--sketch", default="bloom",
                    choices=sorted(KINDS))
    ap.add_argument("--prep", default=None,
                    help="kgram|tokens|raw (default: kgram for bloom)")
    ap.add_argument("--k", type=int, default=15)
    ap.add_argument("--error-rate", type=float, default=0.0005)
    ap.add_argument("--capacity", type=int, default=1_000_000)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--splits", type=int, default=1)
    ap.add_argument("--output", default=None,
                    help="write the merged sketch blob here")
    args = ap.parse_args(argv)

    spark = get_spark("facs_pipeline")
    df = spark.read.parquet(args.input)
    prep = args.prep or ("kgram" if args.sketch == "bloom" else "raw")
    bloom = (dict(k=args.k, capacity=args.capacity,
                  error_rate=args.error_rate)
             if args.sketch == "bloom" else {})
    spec = SketchSpec.make(args.sketch, args.column, prep=prep, **bloom)

    sketch = None
    for split in range(args.splits):
        part = df.filter(F.pmod(F.xxhash64(*df.columns), F.lit(args.splits))
                         == split) if args.splits > 1 else df
        sketch, rows = checkpoint_build(part, spec, args.checkpoint,
                                        split_id=f"s{split}")
        print(json.dumps({"split": split, "rows_total": rows}))

    lin = lineage(spark, args.checkpoint)
    summary = lin.agg(F.count(F.lit(1)).alias("partials"),
                      F.sum("rows_seen").alias("rows"),
                      F.sum("wall_ms").alias("wall_ms")).collect()[0]
    info = sketch.info() if hasattr(sketch, "info") else {
        "type": type(sketch).__name__}
    print(json.dumps({"sketch": info,
                      "lineage": {k: float(summary[k]) if summary[k] else 0
                                  for k in ("partials", "rows", "wall_ms")}}))
    if args.output and hasattr(sketch, "to_bytes"):
        with open(args.output, "wb") as fh:
            fh.write(sketch.to_bytes())
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
