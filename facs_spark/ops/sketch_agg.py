"""Generic mergeable-sketch aggregation over Spark DataFrames.

This is the distributed pattern the whole engine is built on (SURVEY
§2.4): the reference builds its Bloom filter single-threaded
(``facs/build.c:138-154``); here every partition builds a *partial*
sketch inside ``mapInPandas`` (Arrow batches, numpy update kernels —
no per-row Python), the partials are combined by an associative
``merge`` in a bounded-fan-in tree (``applyInPandas`` levels), and
only the final handful of blobs ever reaches the driver.  The
partial rows carry lineage + metrics ``(partition_id, rows_seen,
wall_ms)`` for checkpoint/resume (north rule), the Spark analogue of
the reference's per-rank MPI counter gather
(``facs/mpi_bloom.c:206-247``).

Shuffle accounting: raw data is NEVER shuffled — the only exchange
moves one small blob row per input partition (then per merge group).
Map-side partial aggregation is total.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import _parallel, ensure_shipped
from ..sketch import (BloomFilter, CountMinSketch, HyperLogLog, KLL, TDigest,
                      sketch_from_bytes)

PARTIAL_SCHEMA = ("partition_id long, rows_seen long, wall_ms double, "
                  "sketch binary")


@dataclass(frozen=True)
class SketchSpec:
    """Picklable recipe: which sketch, over which column, how to feed it.

    kind: bloom | hll | cms | tdigest | kll | theta | mg | fd | ams | cs
          | cbf | cuckoo | ddsketch | moments
    prep: how batch values are fed to ``update_batch``:
      * "kgram"  — shingle text into k-gram windows (bloom only)
      * "tokens" — whitespace-split text into tokens
      * "raw"    — pass the column values straight through
    """

    kind: str
    column: str
    prep: str = "raw"
    params: tuple = field(default_factory=tuple)  # sorted (key, value) pairs

    def param(self, key, default=None):
        return dict(self.params).get(key, default)

    @staticmethod
    def make(kind: str, column: str, prep: str = "raw", **params) -> "SketchSpec":
        return SketchSpec(kind=kind, column=column, prep=prep,
                          params=tuple(sorted(params.items())))

    def new_sketch(self):
        p = dict(self.params)
        if self.kind == "bloom":
            return BloomFilter.create(
                capacity=p.get("capacity", 1_000_000),
                error_rate=p.get("error_rate", 0.0005),
                k_mer=p.get("k", 15),
                sizing=p.get("sizing", "facs"))
        if self.kind == "hll":
            return HyperLogLog(p=p.get("p", 14))
        if self.kind == "cms":
            return CountMinSketch(epsilon=p.get("epsilon", 1e-4),
                                  delta=p.get("delta", 0.01))
        if self.kind == "tdigest":
            return TDigest(delta=p.get("delta", 200.0))
        if self.kind == "kll":
            return KLL(k=p.get("k", 200))
        if self.kind == "theta":
            from ..sketch.theta import ThetaSketch
            return ThetaSketch(k=p.get("k", 4096))
        if self.kind == "mg":
            from ..sketch.mg import MisraGries
            return MisraGries(k=p.get("k", 1024))
        if self.kind == "fd":
            from ..sketch.fd import FrequentDirections
            return FrequentDirections(l=p.get("l", 32), d=p.get("d", 64))
        if self.kind == "ams":
            from ..sketch.ams import AmsF2
            return AmsF2(r=p.get("r", 5), c=p.get("c", 256),
                         seed=p.get("seed", 0))
        if self.kind == "cs":
            from ..sketch.countsketch import CountSketch
            return CountSketch(r=p.get("r", 5), c=p.get("c", 2048),
                               seed=p.get("seed", 0))
        if self.kind == "cbf":
            from ..sketch.cbf import CountingBloom
            return CountingBloom.create(
                capacity=p.get("capacity", 1_000_000),
                error_rate=p.get("error_rate", 0.0005))
        if self.kind == "cuckoo":
            from ..sketch.cuckoo import CuckooFilter
            return CuckooFilter.create(
                capacity=p.get("capacity", 1_000_000),
                fbits=p.get("fbits", 16), b=p.get("b", 4),
                load=p.get("load", 0.84), seed=p.get("seed", 0))
        if self.kind == "ddsketch":
            from ..sketch.ddsketch import DDSketch
            return DDSketch(alpha=p.get("alpha", 0.01))
        if self.kind == "moments":
            from ..sketch.moments import MomentsSketch
            return MomentsSketch()
        raise ValueError(f"unknown sketch kind {self.kind!r}")

    def blob_bytes(self) -> int:
        """Serialized size estimate WITHOUT allocating the sketch
        (a 10^8-capacity Bloom vector is ~200 MB)."""
        p = dict(self.params)
        if self.kind == "bloom":
            from ..sketch.sizing import facs_sizing, standard_sizing
            fn = facs_sizing if p.get("sizing", "facs") == "facs" else standard_sizing
            st = fn(p.get("capacity", 1_000_000), p.get("error_rate", 0.0005))
            return (st.elements >> 3) + 64
        if self.kind == "hll":
            return (1 << p.get("p", 14)) + 64
        if self.kind == "cms":
            import math as _m
            d = max(1, _m.ceil(_m.log(1.0 / p.get("delta", 0.01))))
            w = max(1, _m.ceil(_m.e / p.get("epsilon", 1e-4)))
            return d * w * 8 + 64
        if self.kind == "theta":
            return p.get("k", 4096) * 8 + 64
        if self.kind == "mg":
            # k entries, each tag + (len|8B key) + count; assume short keys
            return p.get("k", 1024) * 40 + 64
        if self.kind == "fd":
            # to_bytes shrinks to l rows of d doubles before shipping
            return p.get("l", 32) * p.get("d", 64) * 8 + 64
        if self.kind == "ams":
            return p.get("r", 5) * p.get("c", 256) * 8 + 64
        if self.kind == "cs":
            return p.get("r", 5) * p.get("c", 2048) * 8 + 64
        if self.kind == "cbf":
            from ..sketch.cbf import CountingBloom
            m, _k = CountingBloom.size_for(
                capacity=p.get("capacity", 1_000_000),
                error_rate=p.get("error_rate", 0.0005))
            return m * 2 + 64
        if self.kind == "cuckoo":
            from ..sketch.cuckoo import CuckooFilter
            b = p.get("b", 4)
            m = CuckooFilter.buckets_for(p.get("capacity", 1_000_000), b,
                                         p.get("load", 0.84))
            return m * b * 4 + 64
        return 64 * 1024  # t-digest/KLL: small, bounded

    def update(self, sketch, series: pd.Series) -> int:
        """Feed one Arrow batch column into the sketch; returns rows seen."""
        n = len(series)
        if n == 0:
            return 0
        if self.prep == "kgram":
            from ..kernels.shingle import shingle_batch
            sb = shingle_batch(series.tolist(), self.param("k", 15))
            sketch.add_batch(sb.windows)
        elif self.prep == "tokens":
            # prep dispatch must precede the kind dispatch: a bloom
            # spec with prep="tokens" previously fell into the raw-key
            # branch and silently hashed whole column values
            # single-space split (not str.split()) so the token multiset
            # matches the exact verifiers (F.split(text, ' ') in Spark,
            # string_split in the DuckDB oracle) on any whitespace
            toks: list[str] = []
            for t in series:
                if t:
                    toks.extend(x for x in t.split(" ") if x)
            if self.kind == "bloom":
                from ..sketch.hashing import ascii_lower, length_group_matrices
                enc = [ascii_lower(t.encode("utf-8")) for t in toks]
                for _idx, mat in length_group_matrices(enc):
                    sketch.add_batch(mat)
            else:
                sketch.update_batch(toks)
        elif self.kind == "bloom":
            # raw keys into a Bloom: the ONE shared build/probe
            # encoding (int64 8-byte keys; lowercased length-grouped
            # string matrices) — see raw_key_matrices
            from ..sketch.hashing import raw_key_matrices
            for _idx, mat in raw_key_matrices(series):
                sketch.add_batch(mat)
        elif self.kind == "fd":
            # array<float> column: one (m, d) slab per Arrow batch —
            # a single vectorized update (and at most one SVD) per batch
            vecs = [np.asarray(v, dtype=np.float64)
                    for v in series if v is not None]
            if vecs:
                sketch.update_batch(np.stack(vecs))
        elif self.kind in ("tdigest", "kll", "ddsketch"):
            sketch.update_batch(series.to_numpy(dtype=np.float64, na_value=np.nan))
        elif self.kind == "moments":
            # keep integral dtypes integral: the exact-int power sums
            # are what makes the q98 oracle value-level
            vals = series.dropna().to_numpy()
            if vals.dtype.kind in "iu":
                sketch.update_batch(vals.astype(np.int64))
            else:
                sketch.update_batch(vals.astype(np.float64))
        else:
            vals = series.to_numpy()
            if vals.dtype.kind in "iuf":
                vals = vals[~np.isnan(vals)] if vals.dtype.kind == "f" else vals
                sketch.update_batch(vals.astype(np.int64))
            else:
                sketch.update_batch(series.fillna("").astype(str).tolist())
        return n


# ---------------------------------------------------------------- partials
def _partial_builder(spec: SketchSpec):
    """Module-level factory → picklable mapInPandas kernel."""

    def build(iterator):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        t0 = time.perf_counter()
        sketch = spec.new_sketch()
        rows = 0
        for batch in iterator:
            rows += spec.update(sketch, batch[spec.column])
        wall = (time.perf_counter() - t0) * 1e3
        yield pd.DataFrame({
            "partition_id": [pid], "rows_seen": [rows],
            "wall_ms": [wall], "sketch": [sketch.to_bytes()],
        })

    return build


def partial_sketches(df: DataFrame, spec: SketchSpec) -> DataFrame:
    """One lineage row per partition: (partition_id, rows_seen, wall_ms, sketch).

    Column pruning is explicit — only ``spec.column`` crosses the
    Arrow boundary.  For WIDE sketches (big Bloom bit arrays) the
    partial count is capped so the total partial bytes in flight stay
    bounded — every partition pays the full m-bit vector regardless of
    its row count, so 1,000 partials of a 200 MB filter would move
    200 GB through the merge for no accuracy gain.
    """
    return _partials(df, spec)[0]


def _partials(df: DataFrame, spec: SketchSpec):
    """``partial_sketches`` plus its partition count — the number of
    partial rows — taken from the one plan-to-RDD conversion
    ``ensure_parallelism`` makes."""
    ensure_shipped(df.sparkSession)
    sel, n = _parallel(df.select(spec.column))
    blob = spec.blob_bytes()
    if blob >= (16 << 20):
        max_partials = max(4, (2 << 30) // blob)
        if n > max_partials:
            sel, n = sel.coalesce(max_partials), max_partials
    return sel.mapInPandas(_partial_builder(spec), schema=PARTIAL_SCHEMA), n


# ---------------------------------------------------------------- merge
def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    merged = None
    rows = 0
    t0 = time.perf_counter()
    for blob, r in zip(pdf["sketch"], pdf["rows_seen"]):
        s = sketch_from_bytes(bytes(blob))
        merged = s if merged is None else merged.merge(s)
        rows += int(r)
    wall = (time.perf_counter() - t0) * 1e3
    return pd.DataFrame({
        "partition_id": [int(pdf["partition_id"].min())],
        "rows_seen": [rows], "wall_ms": [wall],
        "sketch": [merged.to_bytes()],
    })


def tree_merge(partials: DataFrame, fanin: int = 64,
               n_partials: int | None = None) -> tuple[object, int]:
    """Reduce partial rows to one sketch with bounded fan-in.

    While more than ``fanin`` partials remain, group them by
    ``partition_id % ngroups`` and merge each group in an executor
    (``applyInPandas``); the driver only ever merges ≤ fanin blobs.
    This is the banked, driver-OOM-safe reduction for wide sketches
    (SURVEY §4 physical notes).  Returns (sketch, total_rows).

    Level sizes are derived ANALYTICALLY — ``partial_sketches`` emits
    exactly one row per input partition and each merge group emits one
    row — so the whole tree executes in a single pass at the final
    collect: no ``count()`` re-running the input scan, and no caching
    of fat sketch blobs (persisting 64 × 200 MB Bloom partials OOMs
    the JVM).  Pass ``n_partials`` when the partial count is already
    known (``build_sketch`` takes it from ``ensure_parallelism``'s
    plan-to-RDD conversion, so the plan is not converted a second
    time) or when the input is NOT one-row-per-partition (e.g. a
    checkpoint parquet); without it the partials' plan is planned
    and converted to an RDD just to count them.
    """
    level = partials
    n = n_partials if n_partials is not None \
        else level.rdd.getNumPartitions()
    while n > fanin:
        ngroups = math.ceil(n / fanin)
        level = (level
                 .withColumn("grp", F.pmod(F.col("partition_id"), F.lit(ngroups)))
                 .groupBy("grp")
                 .applyInPandas(_merge_group, schema=PARTIAL_SCHEMA))
        n = ngroups
    rows = level.collect()
    merged = None
    total = 0
    for r in sorted(rows, key=lambda r: r["partition_id"]):
        s = sketch_from_bytes(bytes(r["sketch"]))
        merged = s if merged is None else merged.merge(s)
        total += r["rows_seen"]
    return merged, total


def build_sketch(df: DataFrame, spec: SketchSpec, fanin: int = 64):
    """End-to-end: partials → tree merge → final sketch object.

    Fan-in adapts to blob size: an applyInPandas merge group holds all
    its blobs in memory at once, and the FINAL level is a driver
    collect over py4j (~25 MB/s measured locally) — so wide sketches
    cap each group at ~128 MB of blobs.  Measured on 32 × 29 MB
    partials: fanin 64 → 46 s (driver collect dominates), fanin 4 →
    8.3 s (executor-side merges, 2-blob collect).

    The plan is converted to an RDD once, to size its partitions; the
    partial count that conversion yields sizes the merge tree, so the
    final collect is the build's only job.  An empty input gives an
    empty sketch and 0 rows.
    """
    eff_fanin = max(2, min(fanin, (128 << 20) // max(spec.blob_bytes(), 1)))
    partials, n = _partials(df, spec)
    return tree_merge(partials, fanin=eff_fanin, n_partials=n)


# ---------------------------------------------------------------- grouped
def _grouped_partial_builder(spec: SketchSpec, group_cols: tuple[str, ...]):
    def build(iterator):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        sketches: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        for batch in iterator:
            for key, sub in batch.groupby(list(group_cols), dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = spec.new_sketch()
                    rows[key] = 0
                rows[key] += spec.update(sk, sub[spec.column])
        out = {c: [] for c in group_cols}
        out.update({"partition_id": [], "rows_seen": [], "sketch": []})
        for key, sk in sketches.items():
            for c, v in zip(group_cols, key):
                out[c].append(v)
            out["partition_id"].append(pid)
            out["rows_seen"].append(rows[key])
            out["sketch"].append(sk.to_bytes())
        yield pd.DataFrame(out)

    return build


def _grouped_merge(pdf: pd.DataFrame) -> pd.DataFrame:
    merged = None
    for blob in pdf["sketch"]:
        s = sketch_from_bytes(bytes(blob))
        merged = s if merged is None else merged.merge(s)
    head = pdf.iloc[[0]].copy()
    head["rows_seen"] = pdf["rows_seen"].sum()
    head["sketch"] = [merged.to_bytes()]
    return head.drop(columns=["partition_id"])


def grouped_sketches(df: DataFrame, group_cols: list[str],
                     spec: SketchSpec) -> DataFrame:
    """Per-group sketches with map-side partials (partial+final agg).

    Raw rows are never shuffled: each partition emits one tiny sketch
    row per (partition, group); only those are exchanged on the group
    key and merged.  Skewed group keys therefore cost nothing extra —
    the salting happens implicitly because heavy groups still produce
    exactly one partial per partition.
    """
    ensure_shipped(df.sparkSession)
    group_cols = list(group_cols)
    gschema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols)
    partial_schema = (f"{gschema}, partition_id long, rows_seen long, "
                      "sketch binary")
    final_schema = f"{gschema}, rows_seen long, sketch binary"
    partials = df.select(*group_cols, spec.column).mapInPandas(
        _grouped_partial_builder(spec, tuple(group_cols)),
        schema=partial_schema)
    return partials.groupBy(*group_cols).applyInPandas(
        _grouped_merge, schema=final_schema)


_OVERLAP_SCHEMA = ("group_a string, group_b string, est_a double, "
                   "est_b double, est_intersection double, "
                   "est_jaccard double, d2_bound double, "
                   "signal_above_noise boolean")


def _pair_stats(sa, sb):
    inter = sa.intersect_estimate(sb)
    union = sa.merge(sb).estimate()
    bound = sa.d2_bound(sb)
    return {
        "est_a": sa.estimate(), "est_b": sb.estimate(),
        "est_intersection": inter,
        "est_jaccard": inter / union if union else 0.0,
        "d2_bound": bound,
        "signal_above_noise": bool(inter >= bound and inter > 0),
    }


def grouped_overlap(df: DataFrame, group_col: str, spec: SketchSpec,
                    shards: int | None = None) -> DataFrame:
    """Pairwise distinct-overlap matrix between groups via theta
    sketches: one mergeable sketch per group (map-side partials, blob
    shuffle only), then every group pair's intersection/union
    estimated from the blobs — the corpus-overlap question ("how much
    content do sources A and B share?") that HLL cannot answer
    directly.

    ``spec`` must be a theta spec; ``prep="tokens"`` makes the overlap
    CONTENT overlap (shared token multiplicity ignored — sets), while
    ``prep="raw"`` overlaps the raw column values (urls, ids).
    Returns (group_a, group_b, est_a, est_b, est_intersection,
    est_jaccard, signal_above_noise) for each unordered pair, with
    group keys cast to STRING in every path (one stable schema; pair
    order is ``str(a) < str(b)``) — ``signal_above_noise`` reports
    whether the intersection estimate is resolvable above the
    sketch's noise floor (est ≥ d2_bound; in exact mode the bound is
    0, so any nonzero overlap is a signal).  A null group value
    contributes no pairs (documented skip — a null source key has no
    meaningful overlap identity).

    ``shards=None`` (default): collect the |groups| blobs and run the
    |groups|² pair loop driver-side — right up to a few thousand
    groups (8 KB blobs, float work on ≤k-element arrays).

    ``shards=S``: the distributed pair grid for host-scale group
    counts (10⁶ hosts ⇒ 10¹² pairs — no driver loop survives that).
    Each group's blob is hashed to one of S shards and replicated to
    the S grid cells (min(s,t), max(s,t)) for t < S; every unordered
    shard pair is ONE applyInPandas task that evaluates exactly the
    pairs falling in its cell, so each group pair is computed exactly
    once, work is spread over S·(S+1)/2 tasks, and only blobs ever
    shuffle (|groups|·S rows).  Pick S ≈ sqrt(total_pairs /
    pairs_per_task); results are identical to the driver loop.
    """
    import itertools

    import pandas as pd
    if spec.kind != "theta":
        raise ValueError("grouped_overlap requires a theta SketchSpec")
    spark = df.sparkSession
    grouped = (grouped_sketches(df, [group_col], spec)
               .filter(F.col(group_col).isNotNull())
               .select(F.col(group_col).cast("string").alias("g"),
                       "sketch"))

    if shards is None:
        rows = []
        collected = grouped.collect()
        sketches = {r["g"]: sketch_from_bytes(bytes(r["sketch"]))
                    for r in collected}
        for a, b in itertools.combinations(sorted(sketches), 2):
            rows.append({"group_a": a, "group_b": b,
                         **_pair_stats(sketches[a], sketches[b])})
        if not rows:  # <2 groups: empty result with a stable schema
            return spark.createDataFrame([], _OVERLAP_SCHEMA)
        return spark.createDataFrame(
            pd.DataFrame(rows), schema=_OVERLAP_SCHEMA)

    if shards < 1:
        raise ValueError(f"shards must be ≥ 1, got {shards}")
    ensure_shipped(spark)
    s_col = F.pmod(F.xxhash64("g"), F.lit(shards)).cast("int")
    t_col = F.explode(F.array(*[F.lit(t) for t in range(shards)]))
    cells = (grouped.withColumn("s", s_col)
             .withColumn("t", t_col.alias("t"))
             .select(F.least("s", "t").alias("ci"),
                     F.greatest("s", "t").alias("cj"),
                     "s", "g", "sketch"))

    def cell_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from facs_spark.sketch import sketch_from_bytes as sfb
        ci, cj = key
        sks = {g: sfb(bytes(b)) for g, b in zip(pdf["g"], pdf["sketch"])}
        side = dict(zip(pdf["g"], pdf["s"]))
        out = []
        if ci == cj:  # diagonal: all unordered pairs within the shard
            pair_iter = itertools.combinations(sorted(sks), 2)
        else:  # off-diagonal: ci-side × cj-side only
            left = sorted(g for g in sks if side[g] == ci)
            right = sorted(g for g in sks if side[g] == cj)
            pair_iter = ((min(a, b), max(a, b))
                         for a in left for b in right)
        for a, b in pair_iter:
            out.append({"group_a": a, "group_b": b,
                        **_pair_stats(sks[a], sks[b])})
        cols = ["group_a", "group_b", "est_a", "est_b",
                "est_intersection", "est_jaccard", "d2_bound",
                "signal_above_noise"]
        return pd.DataFrame(out, columns=cols)

    return cells.groupBy("ci", "cj").applyInPandas(
        cell_kernel, schema=_OVERLAP_SCHEMA)
