"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``--seed`` and the workload size, so
two processes given one seed write byte-identical parquet files.  The
program under test only ever sees these files.

* ``pages``: the facs_spark page synthesizer (``io.synth.synth_batch``)
  with ground-truth labels, written as parquet with fixed-size row
  groups so a local scan splits into several tasks.
* ``tables``: the six TPC-H-style tables the driver-contract sketch
  queries read (part, lineitem, customer, orders, events, documents),
  with the schemas of the driver's test data and its sf0.1 row counts
  times a scale (0.1 in the benchmark, so sf0.01-sized tables).

``python3 perfbench/inputs.py --workload W --seed N --dir D`` writes
one workload's inputs and prints the sha256 of every file.
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUPS = 8  # per file: a local scan gets several splits

# Row counts of the driver's sf0.1 test data.
TABLE_ROWS = {"part": 20_000, "lineitem": 600_000, "customer": 15_000,
              "orders": 150_000, "events": 100_000, "documents": 5_000}

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_ADJ = "blue cold hot red small large new old".split()
_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()


def write_parquet(df: pd.DataFrame, path: str, files: int = 1) -> None:
    """One parquet file of ROW_GROUPS row groups, or with ``files`` > 1
    a directory of that many part files (one scan split each)."""
    if files > 1:
        os.makedirs(path)
        step = -(-len(df) // files)
        for i in range(files):
            write_parquet(df.iloc[i * step:(i + 1) * step],
                          os.path.join(path, f"part-{i:03d}.parquet"))
        return
    rows = max(1, -(-len(df) // ROW_GROUPS))
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   row_group_size=rows)


def pages_frame(n_pages: int, seed: int) -> pd.DataFrame:
    """``n_pages`` labelled pages (url, warc_ts, html, text, lang,
    is_contam) from the program's own page synthesizer.

    The synthesizer keys every page on ``doc_id + seed``, so nearby
    seeds would share most pages; the seed is spread out first."""
    from facs_spark.io.synth import synth_batch
    spread = (seed * 0x9E3779B97F4A7C15) % (1 << 60)
    return synth_batch(np.arange(n_pages, dtype=np.int64), seed=spread)


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "us")
            + rng.integers(0, n_days, n).astype("timedelta64[D]"))


def tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The six query tables; ``scale`` shrinks every row count."""
    rng = np.random.default_rng(seed)
    n = {t: max(50, int(c * scale)) for t, c in TABLE_ROWS.items()}

    pk = np.arange(n["part"], dtype=np.int64)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, _ADJ, pk.size),
                                              _choice(rng, _NOUN, pk.size))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size)],
        "p_type": _choice(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                "MEDIUM", "PROMO"], pk.size),
        "p_size": rng.integers(1, 51, pk.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })

    ck = np.arange(n["customer"], dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, ck.size).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, ck.size), 2),
        "c_mktsegment": _choice(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                      "BUILDING", "FURNITURE"], ck.size),
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    orders = pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, ck.size, ok.size).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], ok.size),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, ok.size), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, ok.size),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], ok.size),
    })

    n_li = n["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_partkey = rng.integers(0, pk.size, n_li).astype(np.int64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, ok.size, n_li).astype(np.int64),
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * part["p_retailprice"].to_numpy()[l_partkey]
            + rng.uniform(0.0, 50.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })

    n_ev = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _choice(rng, ["signup", "click", "error", "view",
                                    "purchase"], n_ev),
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = n["documents"]
    n_tok = rng.integers(8, 90, n_doc)
    words = _choice(rng, _WORDS, int(n_tok.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    dup = rng.random(n_doc) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, dup)]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "zh", "es", "fr", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"part": part, "lineitem": lineitem, "customer": customer,
            "orders": orders, "events": events, "documents": documents}


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the query tables as ``<out_dir>/<name>.parquet``; returns
    the row count of each."""
    rows = {}
    for name, df in tables(seed, scale).items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows


def _sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def main() -> int:
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["classify", "build", "sketch_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    from workloads import WORKLOADS  # noqa: E402 (same directory)
    os.makedirs(args.dir, exist_ok=True)
    WORKLOADS[args.workload](args.seed, args.smoke).write_inputs(args.dir)
    for base, _dirs, files in sorted(os.walk(args.dir)):
        for f in sorted(files):
            path = os.path.join(base, f)
            print(_sha256(path), os.path.relpath(path, args.dir))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
