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
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import _parallel, ensure_shipped
from ..sketch import (AmsF2, BloomFilter, CountingBloom, CountMinSketch,
                      CountSketch, CuckooFilter, DDSketch, FrequentDirections,
                      HyperLogLog, KLL, MisraGries, MomentsSketch, TDigest,
                      ThetaSketch, merge_blobs, sketch_from_bytes)
from ..sketch.hashing import key_strings

PARTIAL_SCHEMA = ("partition_id long, rows_seen long, wall_ms double, "
                  "sketch binary")

# spec-level adaptors: the capacity-sized filters need a capacity, and
# a bloom spec's ``k`` is its k-gram length (the filter's ``k_mer``)
_CAPACITY = 1_000_000
_KGRAM = 15


def _bloom(capacity=_CAPACITY, k=_KGRAM, **kw):
    return BloomFilter.create(capacity, k_mer=k, **kw)


def _sized(create):
    return lambda capacity=_CAPACITY, **kw: create(capacity, **kw)


def _small(_sk):
    return 64 << 10  # t-digest/KLL/moments: small, bounded


# every positive double's DDSketch key ceil(ln x / ln gamma) lies in
# this span of ln x; ``to_bytes`` writes 16 B (key, count) per bucket
_LN_DOUBLES = math.log(sys.float_info.max) - math.log(math.ulp(0.0))


def _dd_bytes(sk):
    return 16 * (math.ceil(_LN_DOUBLES / math.log(sk.gamma)) + 1)


# kind -> (constructor taking the spec's params as keywords, blob bytes
# of the constructed sketch).  Fixed-size kinds measure their arrays;
# a blob that grows with its input is bounded from the sketch's fields.
KINDS = {
    "bloom": (_bloom, lambda sk: sk.vector.nbytes),
    "hll": (HyperLogLog, lambda sk: sk.registers.nbytes),
    "cms": (CountMinSketch, lambda sk: sk.table.nbytes),
    "ams": (AmsF2, lambda sk: sk.z.nbytes),
    "cs": (CountSketch, lambda sk: sk.z.nbytes),
    "cbf": (_sized(CountingBloom.create), lambda sk: sk.counters.nbytes),
    "cuckoo": (_sized(CuckooFilter.create), lambda sk: sk.table.nbytes),
    "theta": (ThetaSketch, lambda sk: sk.k * 8),
    # k entries, each tag + (len|8B key) + count; assume short keys
    "mg": (MisraGries, lambda sk: sk.k * 40),
    # to_bytes shrinks to l rows of d doubles before shipping
    "fd": (FrequentDirections, lambda sk: sk.l * sk.d * 8),
    "tdigest": (TDigest, _small),
    "kll": (KLL, _small),
    "ddsketch": (DDSketch, _dd_bytes),
    "moments": (MomentsSketch, _small),
}


@dataclass(frozen=True)
class SketchSpec:
    """Picklable recipe: which sketch, over which column, how to feed it.

    kind: one of ``KINDS`` — bloom | hll | cms | ams | cs | cbf |
          cuckoo | theta | mg | fd | tdigest | kll | ddsketch | moments
    params: the sketch constructor's keywords; a param it does not
          take raises ``TypeError``, an absent one takes the sketch
          class's default (bloom/cbf/cuckoo add ``capacity`` 1,000,000;
          bloom's ``k`` is its ``k_mer``, default 15)
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
        if self.kind not in KINDS:
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        return KINDS[self.kind][0](**dict(self.params))

    def blob_bytes(self) -> int:
        """Serialized size bound of one partial, read off a freshly
        constructed sketch.  Constructing is free on the driver: the
        arrays are calloc'd zero pages that are never touched (a
        10^8-capacity Bloom is 172 MiB of address space, +0 MB RSS)."""
        return KINDS[self.kind][1](self.new_sketch()) + 64

    def update(self, sketch, series: pd.Series) -> int:
        """Feed one Arrow batch column into the sketch; returns rows seen."""
        n = len(series)
        if n == 0:
            return 0
        if self.prep == "kgram":
            from ..kernels.shingle import shingle_batch
            sb = shingle_batch(series.tolist(), self.param("k", _KGRAM))
            sketch.add_batch(sb.windows)
        elif self.prep == "tokens":
            # prep dispatch precedes the kind dispatch, so every kind
            # (bloom too) sees tokens, never whole column values;
            # single-space split (not str.split()) so the token multiset
            # matches the exact verifiers (F.split(text, ' ') in Spark,
            # string_split in the DuckDB oracle) on any whitespace
            toks: list[str] = []
            for t in series:
                if t:
                    toks.extend(x for x in t.split(" ") if x)
            sketch.update_batch(toks)
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
                sketch.update_batch(key_strings(series))
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
_FANIN = 64               # partials per merge group ...
_GROUP_BYTES = 128 << 20  # ... capped at 128 MiB of blobs


def _fanin(spec: SketchSpec) -> int:
    """Partials per merge group for ``spec``'s blobs.

    An applyInPandas merge group holds all its blobs in memory at
    once, and the FINAL level is a driver collect over py4j (~25 MB/s
    measured locally) — so wide sketches cap each group at 128 MiB of
    blobs.  Measured on 32 × 29 MB partials: fan-in 64 → 46 s (driver
    collect dominates), fan-in 4 → 8.3 s (executor-side merges,
    2-blob collect)."""
    return max(2, min(_FANIN, _GROUP_BYTES // spec.blob_bytes()))


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    t0 = time.perf_counter()
    merged = merge_blobs(pdf["sketch"])
    wall = (time.perf_counter() - t0) * 1e3
    return pd.DataFrame({
        "partition_id": [int(pdf["partition_id"].min())],
        "rows_seen": [int(pdf["rows_seen"].sum())], "wall_ms": [wall],
        "sketch": [merged.to_bytes()],
    })


def tree_merge(partials: DataFrame, spec: SketchSpec,
               n_partials: int | None = None) -> tuple[object, int]:
    """Reduce ``spec``'s partial rows to one sketch with bounded fan-in.

    While more than ``_fanin(spec)`` partials remain, group them by
    ``partition_id % ngroups`` and merge each group in an executor
    (``applyInPandas``); the driver only ever merges ≤ fan-in blobs.
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
    fanin = _fanin(spec)
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
    rows = sorted(level.collect(), key=lambda r: r["partition_id"])
    return (merge_blobs(r["sketch"] for r in rows),
            sum(r["rows_seen"] for r in rows))


def build_sketch(df: DataFrame, spec: SketchSpec):
    """End-to-end: partials → tree merge → final sketch object.

    The plan is converted to an RDD once, to size its partitions; the
    partial count that conversion yields sizes the merge tree, so the
    final collect is the build's only job.  An empty input gives an
    empty sketch and 0 rows.
    """
    partials, n = _partials(df, spec)
    return tree_merge(partials, spec, n_partials=n)


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
    head = pdf.iloc[[0]].copy()
    head["rows_seen"] = pdf["rows_seen"].sum()
    head["sketch"] = [merge_blobs(pdf["sketch"]).to_bytes()]
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
