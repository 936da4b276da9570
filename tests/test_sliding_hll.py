"""Sliding-window HLL (ops/sliding_hll.py): frontier correctness
(answers every window exactly as a from-scratch register scan
would), partitioning invariance, frontier size bound, and estimator
accuracy vs the published HLL error."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from facs_spark.ops.sliding_hll import (hll_estimate, sliding_hll_frontier,
                                        sliding_hll_raw_points,
                                        windows_from_frontier)
from facs_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_spark_shll_tests", cpus=4, shuffle_partitions=4)


def _events(spark, n=20_000, users=5_000, seed=13):
    rng = np.random.default_rng(seed)
    import pandas as pd
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(
            rng.integers(0, 86_400_000_000, n), unit="us", utc=False),
        "user_id": rng.integers(0, users, n),
    })
    return spark.createDataFrame(pdf)


def test_frontier_answers_any_window_exactly(spark):
    """For arbitrary thresholds, max-rank-per-register computed from
    the frontier equals the one computed from ALL points — the LPFM
    guarantee that makes the sketch a lossless window summary.  The
    naive reference scans the raw points: the per-register max over
    them equals the max over the per-(register, ts) deduplicated set."""
    ev = _events(spark)
    pts = sliding_hll_raw_points(ev, "user_id", "ts").toPandas()
    fr = sliding_hll_frontier(ev, "user_id", "ts").collect()
    thrs = [int(np.quantile(pts["ts_us"], q))
            for q in (0.0, 0.2, 0.5, 0.8, 0.99)]
    ests = windows_from_frontier(fr, thrs)
    for thr, est in zip(thrs, ests):
        mr = np.zeros(256, dtype=np.int64)
        sel = pts[pts["ts_us"] >= thr]
        np.maximum.at(mr, sel["register"].to_numpy(),
                      sel["rank"].to_numpy())
        assert est == hll_estimate(mr)


def test_frontier_partitioning_invariance(spark):
    """The frontier is a pure function of the point SET: 1-partition
    and 16-partition inputs produce identical frontiers."""
    ev = _events(spark, n=5_000)
    a = sorted(map(tuple, sliding_hll_frontier(
        ev.coalesce(1), "user_id", "ts").collect()))
    b = sorted(map(tuple, sliding_hll_frontier(
        ev.repartition(16), "user_id", "ts").collect()))
    assert a == b


def test_frontier_size_logarithmic(spark):
    """Expected frontier length per register is H(n_reg) ~ ln(n):
    assert the whole sketch stays well under m * (ln(n) + const)."""
    ev = _events(spark, n=50_000, users=50_000)
    n_frontier = sliding_hll_frontier(ev, "user_id", "ts").count()
    # ~195 points/register; H(195) ~ 5.86. Allow 3x slack.
    assert n_frontier <= 256 * 3 * (math.log(50_000 / 256) + 1)


def test_estimator_accuracy():
    rng = np.random.default_rng(5)
    for n in (500, 5_000, 50_000):
        # distinct 64-bit draws; register/rank from true uniform bits
        vals = rng.integers(0, 1 << 61, n)
        regs = vals & 255
        fracs = (vals >> 8) & ((1 << 52) - 1)
        ranks = np.array([53 if v == 0 else 52 - int(v).bit_length() + 1
                          for v in fracs])
        mr = np.zeros(256, dtype=np.int64)
        np.maximum.at(mr, regs, ranks)
        est = hll_estimate(mr)
        # published sd = 1.04/sqrt(256) ~ 6.5%; allow 4 sd
        assert abs(est - n) <= 4 * 0.065 * n + 10, (n, est)


def test_rank_expr_string_vs_bits(spark):
    """rank_expr's string arithmetic equals the numeric
    leading-zero count of the 52-bit fraction."""
    df = spark.createDataFrame(
        [("0000000000001",), ("1000000000000",), ("0123456789abc",),
         ("8000000000000",), ("0000000000000",), ("7fffffffffff0",)],
        "frac string")
    from facs_spark.ops.sliding_hll import rank_expr
    got = {r["frac"]: r["rank"]
           for r in df.withColumn("rank", rank_expr("frac")).collect()}
    for frac, rank in got.items():
        v = int(frac, 16)
        want = 53 if v == 0 else 52 - v.bit_length() + 1
        assert rank == want, (frac, rank, want)


def _frontier_rows(df):
    return sorted((r["register"], r["ts_us"], r["rank"]) for r in df.collect())


def _stream_frontier(spark, ev, tmp_path, sink):
    """Fold ``ev`` (ts, user_id) through ``streaming_sliding_hll`` as
    three single-file micro-batches; return the drained frontier."""
    import glob
    import shutil

    from facs_spark.streaming.monitor import run_monitor_once
    from facs_spark.streaming.stateful import streaming_sliding_hll

    ev = ev.withColumn("rid", F.monotonically_increasing_id())
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        tmp = str(tmp_path / f"w{i}")
        ev.filter(F.col("rid") % 3 == i).drop("rid").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        shutil.move(part, str(src / f"{i}.parquet"))

    stream = (spark.readStream
              .schema("ts timestamp, user_id long")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = streaming_sliding_hll(
        sliding_hll_raw_points(stream, "user_id", "ts"))
    run_monitor_once(out, str(tmp_path / "ckpt"),
                     query_name=sink, output_mode="update")
    got = _frontier_rows(spark.sql(f"""
        SELECT register, ts_us, rank
        FROM (SELECT *, MAX(points_seen)
                        OVER (PARTITION BY register) AS mx
              FROM {sink})
        WHERE points_seen = mx"""))
    spark.catalog.dropTempView(sink)
    return got


def test_streaming_frontier_equals_batch(spark, tmp_path):
    """Three micro-batches folded through the state store produce the
    EXACT batch frontier (the q99 stream ≡ batch guarantee)."""
    ev = _events(spark, n=3_000, users=800)
    stream_fr = _stream_frontier(spark, ev, tmp_path, "shll_test_sink")
    batch_fr = _frontier_rows(sliding_hll_frontier(ev, "user_id", "ts"))
    assert stream_fr == batch_fr


def _null_events(spark):
    """``_events`` with every 5th value and every 7th timestamp NULL."""
    import pandas as pd
    pdf = _events(spark, n=3_000, users=800).toPandas()
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    pdf.loc[::5, "user_id"] = pd.NA
    pdf.loc[3::7, "ts"] = pd.NaT
    return spark.createDataFrame(pdf, "ts timestamp, user_id long")


def test_frontier_skips_null_rows(spark, tmp_path):
    """A NULL value or timestamp never contributes a rank: the batch
    and the streaming frontier over input with NULLs both equal the
    batch frontier over the null-filtered input."""
    ev = _null_events(spark)
    assert ev.where("user_id IS NULL OR ts IS NULL").count() > 0
    want = _frontier_rows(sliding_hll_frontier(ev.dropna(), "user_id", "ts"))
    assert want
    assert _frontier_rows(sliding_hll_frontier(ev, "user_id", "ts")) == want
    assert _stream_frontier(spark, ev, tmp_path, "shll_null_sink") == want
