"""The driver-contract gate inside pytest: every queries() entry runs
on Spark and matches its oracle_sql() twin on DuckDB (row count,
column names, exact values — rows sorted, columns sorted by name), at
sf0.001 so `python -m pytest -x -q` alone verifies the contract
(BASELINE.json input_hint).  The external harness
(tools/check_correctness.py) runs the same comparison at sf0.01."""

import inspect
import math
import os
import re
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from facs_spark import queries as queries_mod
from facs_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_contract_tests", cpus=4, shuffle_partitions=4)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
                continue
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, oracle_con, name):
    got = _normalize(entry_mod.queries()[name](spark, SF).toPandas())
    want = _normalize(oracle_con.execute(entry_mod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), "column names differ"
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for c in got.columns:
        for i in range(len(got)):
            assert _equal(got[c].iloc[i], want[c].iloc[i]), (
                f"{name}: column {c} row {i}: "
                f"{got[c].iloc[i]!r} != {want[c].iloc[i]!r}")


def test_registry_is_the_query_functions():
    """A query is registered by its name alone: ``queries()`` holds
    every module-level ``qNN_*`` function of ``facs_spark.queries``,
    newest first, and each has exactly one oracle definition — a
    ``QNN_SQL`` constant or a ``_qNN_sql()`` function (a leftover
    template next to such a function fails here)."""
    reg = entry_mod.queries()
    assert len(reg) == 101
    nums = [re.fullmatch(r"q(\d+)_\w+", name).group(1) for name in reg]
    assert [int(n) for n in nums] == sorted(map(int, set(nums)),
                                            reverse=True)
    assert set(reg) == {
        name for name, fn in inspect.getmembers(queries_mod,
                                                inspect.isfunction)
        if fn.__module__ == queries_mod.__name__
        and re.fullmatch(r"q\d+_\w+", name)}
    assert set(entry_mod.oracle_sql()) == set(reg)
    for n in nums:
        defs = [d for d in (f"Q{n}_SQL", f"_q{n}_sql")
                if hasattr(queries_mod, d)]
        assert len(defs) == 1, (n, defs)


def test_check_correctness_runs_from_any_directory(tmp_path):
    """tools/check_correctness.py finds the repo from its own path,
    not from the working directory it is started in."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
         "--strict", SF, "q01_pricing_summary"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "PASS q01_pricing_summary" in r.stdout
    assert "failures: 0" in r.stdout


def test_rows_only_queries_run(spark):
    """Queries without an oracle still run and return a stable schema."""
    qs = entry_mod.queries()
    for name in set(qs) - set(entry_mod.oracle_sql()):
        df = qs[name](spark, SF)
        assert df.columns, name
        assert df.count() >= 0


def _jobs(spark, group: str, fn):
    """(fn's result, number of Spark jobs it fired)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_reuses_inferred_schema_until_file_changes(spark, tmp_path):
    """A second ``_read`` of an unchanged parquet file fires no job; a
    file rewritten under the same path is read with its new schema."""
    from facs_spark.queries import _read
    path = tmp_path / "t.parquet"
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", None]})
    pdf.to_parquet(path)
    first = _read(spark, str(tmp_path), "t")
    again, jobs = _jobs(spark, "read_again",
                        lambda: _read(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert again.schema == first.schema
    assert again.toPandas().equals(pdf)

    wider = pdf.assign(c=[0.5, 1.5, 2.5])
    wider.to_parquet(path)
    new = _read(spark, str(tmp_path), "t")
    assert new.columns == ["a", "b", "c"]
    assert new.toPandas().equals(wider)
    _df, jobs = _jobs(spark, "read_wider",
                      lambda: _read(spark, str(tmp_path), "t"))
    assert jobs == 0


def test_sketch_queries_build_without_side_jobs(spark):
    """A warm pass over the sketch_queries benchmark's five queries
    fires at most 6 jobs per query, final plans included: schemas come
    from the cache, side actions are fused, tiny results finish on the
    driver."""
    names = ("q02_bloom_semijoin", "q03_contamination_report",
             "q05_hll_distinct", "q06_cms_heavy_hitters",
             "q08_kll_quantiles")
    qs = entry_mod.queries()
    for name in names:  # warm: first reads infer their schemas
        qs[name](spark, SF).toPandas()
    counts = {name: _jobs(spark, f"warm_{name}",
                          lambda: qs[name](spark, SF).toPandas())[1]
              for name in names}
    assert sum(counts.values()) <= 6 * len(names), counts


def test_q05_skips_null_lang(spark, tmp_path):
    """NULL-lang documents are left out of q05, as the inner join of
    exact and estimated counts used to leave them out; every other
    lang keeps its exact count within the HLL bound."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs.loc[docs["doc_id"] % 5 == 0, "lang"] = None
    docs.to_parquet(tmp_path / "documents.parquet")
    got = entry_mod.queries()["q05_hll_distinct"](
        spark, str(tmp_path)).toPandas()
    want = (docs.dropna(subset=["lang"]).groupby("lang")["doc_id"]
            .nunique().rename("exact_distinct").reset_index())
    assert got["lang"].tolist() == want["lang"].tolist()
    assert got["exact_distinct"].tolist() == want["exact_distinct"].tolist()
    assert got["within_bound"].all()
