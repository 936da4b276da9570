"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at sf0.01, compare row count, column names, and exact values
(rows sorted, columns sorted by name).

``--strict`` additionally replays the driver's dtype-SENSITIVE pandas
value-hash: float64-vs-int64 divergence (e.g. DuckDB typing a bare
SUM(int) as HUGEINT → float64) fails here even when the values
compare equal — the round-1 failure mode this tool originally missed.
Integer-width differences (int32 vs int64) hash identically and pass.

``--json PATH`` additionally writes a driver-CORRECTNESS-style record
(one entry per checked query: rows/schema/hash matches, row counts,
err, wall seconds) so full-sweep evidence is a committable artifact,
not just console scrollback.

Usage: python tools/check_correctness.py [--strict] [--json PATH]
       [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
                continue
            except (ValueError, TypeError):
                pass
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def strict_hash(pdf: pd.DataFrame) -> int:
    """Dtype-sensitive value hash in the driver's style: columns
    sorted by name, rows sorted, pandas object-hash summed."""
    s = pdf[sorted(pdf.columns)]
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    return int(pd.util.hash_pandas_object(s, index=False).sum())


def main() -> int:
    import __spark_entry__ as e
    from facs_spark.session import get_spark

    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if a != "--strict"]
    strict = "--strict" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(cpus=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = 0
    record: dict = {}

    def note(name, *, spark_rows=None, oracle_rows=None, err=None,
             hash_ok=None, wall=None, problems=()):
        record[name] = {
            "rows_match": (spark_rows == oracle_rows
                           if None not in (spark_rows, oracle_rows)
                           else None),
            "schema_match": err is None and not any(
                p.startswith("columns") for p in problems),
            "hash_match": hash_ok,
            "spark_rows": spark_rows, "oracle_rows": oracle_rows,
            "err": err or ("; ".join(problems) or None),
            "wall_sec": None if wall is None else round(wall, 2),
        }

    # a filter name may be the full registry key or a qNN prefix; an
    # entry matching NOTHING is an error, not a silent no-op — a bare
    # "q94" that matched zero queries once reported a vacuous
    # "failures: 0" for a query that was actually red
    if only:
        matched = {o: [n for n in qs
                       if n == o or n.startswith(o + "_")]
                   for o in only}
        unmatched = [o for o, ms in matched.items() if not ms]
        if unmatched:
            raise SystemExit(
                f"no query matches filter(s) {unmatched}; "
                f"registry keys look like {next(iter(qs))!r}")
        selected = {n for ms in matched.values() for n in ms}
    else:
        selected = None

    for name, fn in qs.items():
        if selected is not None and name not in selected:
            continue
        t0 = time.time()
        try:
            raw_got = fn(spark, sf_dir).toPandas()
            got = normalize(raw_got)
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            note(name, err=f"spark error: {ex}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows={len(got)} (rows-only, no oracle) [{dt:.1f}s]")
            note(name, spark_rows=len(got), wall=dt)
            continue
        try:
            raw_want = con.execute(oracles[name]).df()
            want = normalize(raw_want)
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            note(name, spark_rows=len(got), err=f"duckdb error: {ex}")
            failures += 1
            continue
        problems = []
        if strict and len(raw_got) == len(raw_want) \
                and sorted(raw_got.columns) == sorted(raw_want.columns):
            if strict_hash(raw_got) != strict_hash(raw_want):
                problems.append(
                    "strict value-hash mismatch (dtype-sensitive): "
                    + str({c: str(raw_got[sorted(raw_got.columns)]
                                  .dtypes[i]) for i, c in
                           enumerate(sorted(raw_got.columns))})
                    + " vs "
                    + str({c: str(raw_want[sorted(raw_want.columns)]
                                  .dtypes[i]) for i, c in
                           enumerate(sorted(raw_want.columns))}))
        if len(got) != len(want):
            problems.append(f"rowcount {len(got)} != {len(want)}")
        if list(got.columns) != list(want.columns):
            problems.append(f"columns {list(got.columns)} != {list(want.columns)}")
        if not problems:
            for c in got.columns:
                bad = [i for i in range(len(got))
                       if not values_equal(got[c].iloc[i], want[c].iloc[i])]
                if bad:
                    i = bad[0]
                    problems.append(
                        f"col {c}: {len(bad)} mismatches, first at row {i}: "
                        f"{got[c].iloc[i]!r} != {want[c].iloc[i]!r}")
        hash_ok = (not strict) or not any(
            "value-hash" in p for p in problems)
        note(name, spark_rows=len(got), oracle_rows=len(want),
             hash_ok=hash_ok if strict else None, wall=dt,
             problems=problems)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name}: rows={len(got)} [{dt:.1f}s]")
    spark.stop()
    if json_path:
        import json
        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "strict": strict,
                       "n_checked": len(record), "failures": failures,
                       "queries": record}, fh, indent=1)
        print("wrote", json_path)
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
