"""Sliding-window HyperLogLog (Fusy & Giroire 2007; Chabchoub &
Hebrail 2010): one pass over a timestamped stream produces, per HLL
register, the *list of possible future maxima* (LPFM) — the Pareto
frontier of (timestamp, rank) pairs where every kept entry has a
strictly larger rank than all newer entries.  Any trailing window
``[T, now]`` is then answered from the frontier alone: the register
value is the max rank among entries with ``ts >= T``, and the
standard HLL estimate (alpha_m bias constant + linear-counting
small-range correction, Flajolet et al. 2007) follows.

Frontier size is O(log n) expected per register (the number of
left-to-right maxima of a random permutation), so the whole sketch is
~m * ln(n) tiny rows — at 10^12 pages and m=256 that is a few KB —
while answering EVERY window in the stream's past, which a plain HLL
(q05) cannot.

Determinism is the design driver here, same as q95/q96: the rank is
the leading-zero count of the shared 13-hex md5 fraction (pure string
ops, no float log), the frontier is a pure function of the (ts, rank)
SET (merge-order-invariant — pytest asserts any partitioning yields
the identical frontier), and the estimator's register sum is computed
as an EXACT integer in units of 2^-53 (every 2^-rank is a multiple),
so the DuckDB oracle (queries.py q97) replays estimates bit-for-bit
— no float-summation-order hazard.

Scale shape: rows shuffle once as (register, ts_us, rank) longs —
never the value column — into m partitions for the frontier window
scan; partial per-(register, ts) max-aggregation runs map-side.

Reference counterpart: facs's Bloom classifier answers "seen ever?"
(facs/query.c); the LPFM answers "how many distinct, seen since T?"
for every T at once.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

_M_EXP = 53          # rank <= 53 (13 hex chars + all-zero sentinel)
_SCALE = float(1 << _M_EXP)


def rank_expr(frac_col: str):
    """Leading-zero rank of a 13-hex-char fraction, by string ops
    (exact — no float log2): rank = 4*(leading '0' chars) +
    {'1': 3, '2'-'3': 2, '4'-'7': 1, else 0} + 1, all-zeros -> 53."""
    z = F.expr(f"trim(LEADING '0' FROM {frac_col})")
    c = F.substring(z, 1, 1)
    contrib = (F.when(c == "1", 3)
               .when(c.isin("2", "3"), 2)
               .when(c.isin("4", "5", "6", "7"), 1)
               .otherwise(0))
    return F.when(F.length(z) == 0, F.lit(_M_EXP)) \
            .otherwise((13 - F.length(z)) * 4 + contrib + 1)


def sliding_hll_raw_points(df: DataFrame, value_col: str,
                           ts_col: str) -> DataFrame:
    """Per-row (register, ts_us, rank), UNgrouped — shared by the
    batch path (which groupBy-dedups next) and the streaming path
    (whose stateful fold dedups inside the state update; a stream
    can't stack a groupBy-agg before ``applyInPandasWithState``).
    Register = first 2 hex chars of md5 (p=8, m=256); rank = leading
    zeros of the next 13 hex chars + 1 — all JVM-side expressions."""
    h = F.md5(F.col(value_col).cast("string"))
    return (df.select(F.unix_micros(F.col(ts_col).cast("timestamp"))
                      .alias("ts_us"),
                      h.alias("h"))
            .select("ts_us",
                    F.conv(F.substring("h", 1, 2), 16, 10)
                     .cast("int").alias("register"),
                    F.substring("h", 3, 13).alias("frac"))
            .withColumn("rank", rank_expr("frac"))
            .drop("frac"))


def lpfm_frontier(reg: np.ndarray, ts: np.ndarray, rank: np.ndarray):
    """The LPFM frontier of (register, ts, rank) int64 points, sorted
    (register asc, ts desc).

    Sort (register asc, ts desc, rank desc) and keep a row iff its
    key = register*64 + rank strictly exceeds the running max of all
    preceding rows.  rank <= 53 < 64, so the running max never leaks
    across registers; within a register the comparison reduces to
    rank, so a row survives iff its rank beats every newer entry —
    and a same-ts duplicate loses to its own group's max-rank row,
    which sorts first.  One pass, exact frontier."""
    order = np.lexsort((-rank, -ts, reg))
    reg, ts, rank = reg[order], ts[order], rank[order]
    key = reg * 64 + rank
    keep = np.ones(key.size, dtype=bool)
    if key.size:
        keep[1:] = key[1:] > np.maximum.accumulate(key)[:-1]
    return reg[keep], ts[keep], rank[keep]


def _frontier_kernel(iterator):
    """Partition-local LPFM frontier (``lpfm_frontier``), vectorized."""
    import pandas as pd
    regs, tss, rks = [], [], []
    for batch in iterator:
        # a NULL value or timestamp gives a NULL register/ts/rank,
        # which never contributes a rank
        batch = batch.dropna()
        regs.append(batch["register"].to_numpy(dtype=np.int64))
        tss.append(batch["ts_us"].to_numpy(dtype=np.int64))
        rks.append(batch["rank"].to_numpy(dtype=np.int64))
    if not regs:
        return
    r, t, k = lpfm_frontier(np.concatenate(regs), np.concatenate(tss),
                            np.concatenate(rks))
    if r.size == 0:
        return
    yield pd.DataFrame({"register": r.astype("int32"), "ts_us": t,
                        "rank": k.astype("int32")})


def sliding_hll_frontier(df: DataFrame, value_col: str,
                         ts_col: str) -> DataFrame:
    """The LPFM sketch: keep (register, ts_us, rank) iff rank is
    strictly greater than every NEWER entry's rank in the register.

    r7 shape (r6 VERDICT item #2): the old single-exchange form
    shipped EVERY deduplicated (register, ts) point into at most
    m=256 register partitions — a hard 256-task ceiling with an
    O(distinct ts) exchange.  The frontier is a pure function of the
    point SET with frontier(frontier(A) ∪ B) = frontier(A ∪ B) (the
    identity q99's streaming fold already exploits), so each input
    partition now computes its own partial frontier map-side
    (O(m·ln n) rows each) and only partials cross the exchange —
    O(partitions · m · ln n) rows instead of O(n), with the register
    grouping applied to the tiny merged set."""
    raw = sliding_hll_raw_points(df, value_col, ts_col)
    partial = raw.mapInPandas(
        _frontier_kernel, schema="register int, ts_us long, rank int")
    pts = (partial.repartition("register")
           .groupBy("register", "ts_us")
           .agg(F.max("rank").alias("rank")))
    w = (Window.partitionBy("register").orderBy(F.desc("ts_us"))
         .rowsBetween(Window.unboundedPreceding, -1))
    return (pts.withColumn("newer_max", F.max("rank").over(w))
            .where(F.col("newer_max").isNull()
                   | (F.col("rank") > F.col("newer_max")))
            .drop("newer_max"))


def hll_estimate(max_ranks: np.ndarray, m: int = 256) -> float:
    """Flajolet et al. 2007 estimator with the small-range
    linear-counting correction, register sum as an exact integer in
    units of 2^-53 (bit-replayable in SQL — see module docstring)."""
    zeros = int(m - np.count_nonzero(max_ranks))
    present = max_ranks[max_ranks > 0]
    sum_scaled = (int(np.sum(1 << (_M_EXP - present.astype(np.int64))))
                  + zeros * (1 << _M_EXP))
    alpha_mm = (0.7213 / (1.0 + 1.079 / m)) * float(m * m)
    raw = alpha_mm / (sum_scaled / _SCALE)
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


def windows_from_frontier(frontier_rows, thresholds_us,
                          m: int = 256) -> list[float]:
    """Answer trailing windows [T, now] from collected frontier rows
    (each with .register/.ts_us/.rank) — no second data pass."""
    # explicit int64: np.array([]) would default to float64 and make
    # np.maximum.at raise on the empty-frontier case instead of
    # returning the zero-register estimate (ADVICE r6)
    regs = np.array([r["register"] for r in frontier_rows],
                    dtype=np.int64)
    tss = np.array([r["ts_us"] for r in frontier_rows], dtype=np.int64)
    rks = np.array([r["rank"] for r in frontier_rows], dtype=np.int64)
    out = []
    for thr in thresholds_us:
        mr = np.zeros(m, dtype=np.int64)
        sel = tss >= thr
        np.maximum.at(mr, regs[sel], rks[sel])
        out.append(hll_estimate(mr, m))
    return out
