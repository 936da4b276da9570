"""Kernel input splits: the partitions ``_parallel`` hands a Python
kernel carry even shares of a parquet file's row groups
(docs/API.md, "Kernel input splits")."""

import base64

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from facs_spark.session import _parallel, get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("facs_spark_tests", cpus=4, shuffle_partitions=4)


def _write_text(path: str, groups: int, rows_per_group: int) -> None:
    """``groups`` row groups of incompressible text (~350 bytes a row),
    so each group's byte size is what its row count says."""
    rng = np.random.default_rng(groups)
    raw = rng.integers(0, 256, size=(groups * rows_per_group, 262),
                       dtype=np.uint8)
    table = pa.table(
        {"text": [base64.b64encode(r.tobytes()).decode() for r in raw]})
    pq.write_table(table, path, row_group_size=rows_per_group,
                   use_dictionary=False)
    assert pq.read_metadata(path).num_row_groups == groups


def _rows_per_partition(df) -> list[int]:
    counts = dict(df.groupBy(F.spark_partition_id().alias("p")).count()
                  .collect())
    return [counts.get(p, 0) for p in range(df.rdd.getNumPartitions())]


def test_row_groups_spread_evenly_over_kernel_partitions(spark, tmp_path):
    """8 row groups of ~3.5 MB over 4 cores: at Spark's default 4 MiB
    open cost the splits hold 2/3/2/1 groups and the 3-group task sets
    the kernel's stage time; no partition may hold more than 2."""
    path = str(tmp_path / "even.parquet")
    per_group = 10_000
    _write_text(path, 8, per_group)
    df, n = _parallel(spark.read.parquet(path).select("text"))
    rows = _rows_per_partition(df)
    assert n == len(rows) and sum(rows) == 8 * per_group
    assert max(rows) <= 2 * per_group, rows
