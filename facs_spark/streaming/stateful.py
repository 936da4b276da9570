"""Custom stateful streaming operator: running grouped sketches via
``applyInPandasWithState``.

The batch engine's grouped sketches (`ops/sketch_agg.grouped_sketches`)
recompute from scratch per run; the streaming variant keeps ONE
serialized sketch blob per group in Spark's state store and folds each
micro-batch into it — the mergeable-UDAF property (associative
combine, the north rule) is exactly what makes the state update sound:

    state' = merge(state, sketch(batch))  ==  sketch(all rows so far)

State size is the sketch blob (KBs for HLL/KLL/t-digest/CMS), so
10⁶ groups cost GBs of state store, independent of stream length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

STATE_DDL = "sketch binary, rows_seen long"
OUT_DDL = ("group_key string, rows_seen long, estimate double, "
           "sketch binary")


def streaming_grouped_sketch(pages: DataFrame, spec,
                             key_col: str = "lang") -> DataFrame:
    """Per-group running sketch over a stream — any ``SketchSpec``
    (bloom / hll / cms / tdigest / kll / theta / mg / ams / cbf; the
    spec's ``update`` is the same code the batch UDAF runs).

    Emits one row per group per micro-batch with the cumulative
    ``rows_seen``, a scalar ``estimate`` (distinct count for HLL,
    median for the quantile sketches, inserts for Bloom, NaN for CMS
    whose queries are per-key), and the serialized sketch — so a
    downstream job can merge monitor outputs across streams; blobs
    stay mergeable end-to-end.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def scalar_estimate(sk) -> float:
        if hasattr(sk, "estimate"):
            try:
                return float(sk.estimate())
            except TypeError:
                # Misra-Gries: estimate(key) is per-key; the scalar
                # monitor column reports tracked-entry count instead
                return float(len(sk.counters))
        if hasattr(sk, "quantile"):
            try:
                return float(sk.quantile(0.5))
            except (ValueError, IndexError):
                return float("nan")
        if hasattr(sk, "inserts"):
            return float(sk.inserts)
        return float("nan")

    def fold(key, pdf_iter, state):
        from facs_spark.sketch import sketch_from_bytes
        if state.exists:
            blob, seen = state.get
            sk = sketch_from_bytes(bytes(blob))
        else:
            sk, seen = spec.new_sketch(), 0
        for pdf in pdf_iter:
            seen += spec.update(sk, pdf[spec.column])
        blob = sk.to_bytes()
        state.update((blob, seen))
        yield pd.DataFrame([{"group_key": key[0], "rows_seen": seen,
                             "estimate": scalar_estimate(sk),
                             "sketch": blob}])

    return (pages.select(key_col, spec.column)
            .groupBy(key_col)
            .applyInPandasWithState(fold, OUT_DDL, STATE_DDL, "update",
                                    GroupStateTimeout.NoTimeout))


def streaming_window_ones(rows: DataFrame, key_col: str,
                          ts_col: str, id_col: str, bit_col: str,
                          n: int = 1024, r: int = 8) -> DataFrame:
    """Per-group DGIM count of 1s among the last ``n`` events of a
    stream (`sketch/dgim.py`) — state per group is O(r·log n) bucket
    triples, independent of stream length, where the exact answer
    needs an ``n``-bit ring buffer per group.

    Exponential histograms fold sequentially (they do not merge), so
    the order contract is explicit: micro-batches must arrive in
    time order (the file source's mtime ordering with time-disjoint
    files), and each batch is sorted by ``(ts_col, id_col)`` inside
    the fold before feeding the histogram — together that replays
    the global per-group event order exactly.

    Emits per group per micro-batch: cumulative ``rows_seen``, the
    window estimate, and its DETERMINISTIC absolute error bound
    (half the straddling bucket; 0 == exact) — the downstream gate
    is ``|estimate − exact| ≤ abs_bound``, no probability involved.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_ddl = ("group_key string, rows_seen long, estimate double, "
               "abs_bound double")
    state_ddl = "blob binary, rows_seen long"

    def fold(key, pdf_iter, state):
        from facs_spark.sketch.dgim import Dgim
        if state.exists:
            blob, seen = state.get
            dg = Dgim.from_bytes(bytes(blob))
        else:
            dg, seen = Dgim(n=n, r=r), 0
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            seen += len(pdf)
            dg.update(pdf[bit_col].to_numpy())
        state.update((dg.to_bytes(), seen))
        est, bound = dg.query()
        yield pd.DataFrame([{"group_key": str(key[0]), "rows_seen": seen,
                             "estimate": est, "abs_bound": bound}])

    return (rows.select(key_col, ts_col, id_col, bit_col)
            .groupBy(key_col)
            .applyInPandasWithState(fold, out_ddl, state_ddl, "update",
                                    GroupStateTimeout.NoTimeout))


def streaming_priority_sample(rows: DataFrame, key_col: str,
                              id_col: str, weight_col: str,
                              k: int = 16, seed: int = 0) -> DataFrame:
    """Per-group priority sampling (Duffield-Lund-Thorup, the batch
    op in ``ops/sampling.priority_sample``) on a STREAM.

    The top-(k+1) priority set is an exactly mergeable summary —
    every member of the union's top-(k+1) is in its own batch's
    top-(k+1) — so folding each micro-batch into the state-store set
    reproduces the batch sample BIT-FOR-BIT: same md5₅₂ uniform
    draw, same IEEE w/u priorities, same τ = the (k+1)-th priority,
    same est_weight = max(w, τ).  Unlike the sketch monitors (whose
    streaming estimates are bound-gated), this streaming operator is
    value-level verifiable against any engine's replay of the batch
    selection.

    State per group is O(k) (three fixed-width arrays), independent
    of stream length.  Emits the group's current sample each
    micro-batch with the cumulative ``rows_seen`` — downstream takes
    the max-``rows_seen`` emission per group as the final sample.
    Rows with null/NaN/non-positive weight are dropped, matching the
    batch op.
    """
    import hashlib

    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_ddl = ("group_key string, rows_seen long, id long, "
               "weight double, est_weight double")
    state_ddl = "ids binary, ws binary, qs binary, rows_seen long"
    two52 = float(1 << 52)

    def fold(key, pdf_iter, state):
        if state.exists:
            bid, bw, bq, seen = state.get
            ids = np.frombuffer(bytes(bid), np.int64).copy()
            ws = np.frombuffer(bytes(bw), np.float64).copy()
            qs = np.frombuffer(bytes(bq), np.float64).copy()
        else:
            ids = np.empty(0, np.int64)
            ws = qs = np.empty(0, np.float64)
            seen = 0
        for pdf in pdf_iter:
            seen += len(pdf)
            w = pdf[weight_col].to_numpy(np.float64, na_value=np.nan)
            pid = pdf[id_col].to_numpy(np.int64)
            good = ~np.isnan(w) & (w > 0)
            w, pid = w[good], pid[good]
            u = np.array([(int(hashlib.md5(f"{seed}:{i}".encode())
                               .hexdigest()[:13], 16) + 1) / two52
                          for i in pid], np.float64)
            ids = np.concatenate([ids, pid])
            ws = np.concatenate([ws, w])
            qs = np.concatenate([qs, w / u if len(w) else w])
            # mergeable-summary step: union, re-take top-(k+1) by
            # (q desc, id asc) — identical tie order to the batch op
            order = np.lexsort((ids, -qs))[:k + 1]
            ids, ws, qs = ids[order], ws[order], qs[order]
        state.update((ids.tobytes(), ws.tobytes(), qs.tobytes(), seen))
        tau = qs[k] if len(qs) == k + 1 else 0.0
        n = min(k, len(ids))
        yield pd.DataFrame({
            "group_key": [str(key[0])] * n,
            "rows_seen": [seen] * n,
            "id": ids[:n],
            "weight": ws[:n],
            "est_weight": np.maximum(ws[:n], tau),
        })

    return (rows.select(key_col, id_col, weight_col)
            .groupBy(key_col)
            .applyInPandasWithState(fold, out_ddl, state_ddl, "update",
                                    GroupStateTimeout.NoTimeout))


def streaming_sliding_hll(points: DataFrame) -> DataFrame:
    """Sliding-window HLL frontier (ops/sliding_hll.py) maintained on
    a STREAM: one state entry per HLL register holding that
    register's LPFM frontier — the Pareto set of (ts, rank) where
    every kept entry out-ranks all newer entries.

    The frontier is a pure function of the point SET (no order
    dependence), and frontier(frontier(A) u B) == frontier(A u B),
    so folding each micro-batch into the stored frontier reproduces
    the batch sketch BIT-FOR-BIT — q99 reuses q97's value-level
    DuckDB oracle unchanged.  State is O(log n) rows per register
    (expected number of left-to-right maxima), independent of stream
    length.

    ``points`` must be a streaming DataFrame with (register int,
    ts_us long, rank int) — produce it with
    ``sliding_hll_raw_points``; per-(ts) dedup happens inside the
    fold.  Emits each updated register's full frontier with the
    cumulative ``points_seen`` (a monotone per-register version
    marker — the count of fold INPUT rows, which since r7 are the
    map-side partials, not raw points); downstream keeps the
    max-points_seen emission per register.

    r7: each micro-batch partition is pre-reduced to its partial
    LPFM frontier map-side (``ops.sliding_hll._frontier_kernel`` —
    stateless, so legal before the stateful op) before the shuffle
    to the register state partitions: the state operator receives
    O(partitions·m·ln n) rows per batch instead of every raw point,
    the same partial-merge identity the fold itself relies on.
    The resulting frontier state is identical.
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..ops.sliding_hll import _frontier_kernel, lpfm_frontier
    points = points.mapInPandas(
        _frontier_kernel, schema="register int, ts_us long, rank int")

    out_ddl = "register int, points_seen long, ts_us long, rank int"
    state_ddl = "ts binary, rk binary, points_seen long"

    def fold(key, pdf_iter, state):
        if state.exists:
            bts, brk, seen = state.get
            ts = np.frombuffer(bytes(bts), np.int64).copy()
            rk = np.frombuffer(bytes(brk), np.int64).copy()
        else:
            ts = np.empty(0, np.int64)
            rk = np.empty(0, np.int64)
            seen = 0
        for pdf in pdf_iter:
            seen += len(pdf)
            ts = np.concatenate([ts, pdf["ts_us"].to_numpy(np.int64)])
            rk = np.concatenate([rk, pdf["rank"].to_numpy(np.int64)])
        # one register: its frontier, newest first
        _, ts_f, rk_f = lpfm_frontier(np.zeros_like(ts), ts, rk)
        state.update((ts_f.tobytes(), rk_f.tobytes(), seen))
        yield pd.DataFrame({
            "register": np.full(ts_f.size, key[0], np.int32),
            "points_seen": np.full(ts_f.size, seen, np.int64),
            "ts_us": ts_f,
            "rank": rk_f.astype(np.int32),
        })

    return (points.groupBy("register")
            .applyInPandasWithState(fold, out_ddl, state_ddl, "update",
                                    GroupStateTimeout.NoTimeout))
