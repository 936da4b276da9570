"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement — this file is the §1.4 isolation harness, not the
driver contract).

Usage:
    python bench_extra.py q12_ngram_jaccard q41_range_join \
        [--sf /root/testdata/sf1.0] [--trials 3] [--explain DIR]

Per query: builds the DataFrame, times ``df.collect()`` (same
methodology as bench.py's run_queries), reports each trial, the
median and the Spark jobs each trial fired (building the DataFrame
included).  Every job of a query runs in job group
``bench_extra:<query>``; a stream's micro-batch jobs run in the
stream's own group and are not counted.  With --explain DIR, also writes
``<query>.txt`` containing ``df.explain("formatted")`` output (the
plan evidence committed under plans/r07/).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = 3
    explain_dir = None
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--trials":
            trials = int(args[i + 1])
            i += 2
        elif a == "--explain":
            explain_dir = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1

    import __spark_entry__ as e
    from facs_spark.session import get_spark

    qs = e.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if not names:
        names = list(qs)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cpus=cpus, shuffle_partitions=cpus)

    # same warm-up as bench.py so trial 1 is not charged worker forks
    warm = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    warm.mapInPandas(lambda it: it, schema="doc_id long").count()
    if any(n.startswith(("q28", "q38", "q47", "q51", "q88", "q99"))
           for n in names):
        import bench as _b
        _b.SF_DIR = sf_dir
        _b._warm_streaming(spark)

    out = {}
    sc = spark.sparkContext
    for name in names:
        fn = qs[name]
        group = f"bench_extra:{name}"
        sc.setJobGroup(group, group)
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)

            def _fmt(d):
                mode = d.sparkSession._jvm.org.apache.spark.sql \
                    .execution.ExplainMode
                return d._jdf.queryExecution().explainString(
                    mode.fromString("formatted"))

            txt = _fmt(df)
            pre = getattr(df, "_facs_pre_sort", None)
            if pre is not None:
                txt = ("== Final plan (post-checkpoint sort; "
                       "_sorted_once truncates lineage) ==\n" + txt
                       + "\n\n== Pipeline plan (the _sorted_once "
                       "child, materialized once) ==\n" + _fmt(pre))
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
        ts, jobs = [], []
        if trials == 0:
            out[name] = {"median": None, "trials": [], "jobs": []}
            continue
        for _ in range(trials):
            before = len(sc.statusTracker().getJobIdsForGroup(group))
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.collect()
            ts.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group))
                        - before)
        out[name] = {"median": round(statistics.median(ts), 3),
                     "jobs": jobs, "trials": ts}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus,
                      "load_1m": round(os.getloadavg()[0], 1),
                      "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
