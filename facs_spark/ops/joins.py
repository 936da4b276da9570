"""Sketch-accelerated join strategies.

``bloom_prejoin`` is the classic distributed "Bloom join" — the
natural join-side application of the engine's core membership sketch
(the same broadcast-Bloom semi-join that powers classification,
``ops/contamination.py``, pointed at a shuffle join): build a Bloom
filter over the build side's join keys, broadcast it, and drop
probe-side rows map-side BEFORE the shuffle, so the exchange carries
only rows that probably match.  False positives merely ride the
shuffle and are eliminated by the exact join that follows — the
result is bit-identical to the plain join (oracle-checked, q34),
while shuffle volume drops by roughly the join selectivity.

At 100 TB this is the difference between shuffling the full fact
table and shuffling the ~matching slice: a 1e9-key build side at
e=1% is a ~1.4 GB filter (banked broadcast), and a probe-side scan
that keeps 1% of rows cuts the exchange 100×.  Spark's own runtime
row-group filters cover simple cases; this operator makes the
pruning explicit, sketch-parameterized, and usable when the build
side is itself a computed DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import ensure_parallelism, ensure_shipped
from ..sketch import BloomFilter
from .sketch_agg import SketchSpec, build_sketch

_PRUNABLE = ("inner", "left_semi", "leftsemi", "semi")


def _probe_masks(payload, key: str, iterator):
    """(batch, membership mask) per pandas batch, probing ``key``
    against the Bloom ``payload`` with ``contains_values``, the build
    side's own encoding."""
    bf = BloomFilter.from_payload(payload)
    for batch in iterator:
        yield batch, bf.contains_values(batch[key])


def bloom_key_filter(df: DataFrame, key: str, blob: bytes | list,
                     spark=None, key_range: tuple | None = None
                     ) -> DataFrame:
    """Filter ``df`` to rows whose ``key`` is (probably) in the Bloom
    filter ``blob`` (``BloomFilter.to_payload()``: one blob or banks)
    — the map-side half of ``bloom_prejoin``, exposed for pipelines
    that reuse one filter across several scans.

    ``key_range=(mn, mx)``: the build side's key min/max, applied as a
    Catalyst ``BETWEEN`` *before* the Bloom kernel.  The Bloom probe
    itself is a python kernel, opaque to the optimizer, so on its own
    it prunes rows only AFTER the scan has read them; the range
    predicate is a plain expression Catalyst pushes into the parquet/
    Iceberg scan (``PushedFilters``), where row-group zone maps and —
    when the key correlates with a partition column — partition
    pruning skip whole files before a byte is read.  Rows outside
    [mn, mx] cannot be in the filter, so the composition is exact.
    This is the SURVEY §4 pushdown step: probe-in-scan via the stats
    any columnar format already keeps (asserted by
    test_bloom_prejoin_range_pushdown).
    """
    spark = spark or df.sparkSession
    ensure_shipped(spark)
    if key_range is not None:
        mn, mx = key_range
        if mn is not None and mx is not None:
            df = df.filter(F.col(key).between(F.lit(mn), F.lit(mx)))
    bc = spark.sparkContext.broadcast(blob)
    schema = df.schema

    def kernel(iterator):
        for batch, mask in _probe_masks(bc.value, key, iterator):
            yield batch[mask]

    return ensure_parallelism(df).mapInPandas(kernel, schema=schema)


def bloom_key_flag(df: DataFrame, key: str, blob: bytes | list,
                   flag_col: str = "bloom_maybe",
                   spark=None) -> DataFrame:
    """``df`` plus a boolean ``flag_col``: True where ``key`` is
    (possibly) in the Bloom filter — zero false negatives, false-True
    rate = the filter's error rate.  The column form of
    ``bloom_key_filter`` for callers that need BOTH sides of the
    membership split (e.g. ``bloom_anti_join``)."""
    from pyspark.sql.types import BooleanType, StructField, StructType
    spark = spark or df.sparkSession
    ensure_shipped(spark)
    bc = spark.sparkContext.broadcast(blob)
    # NEVER df.schema.add(...): .add mutates the DataFrame's cached
    # StructType in place, planting a phantom column on the SOURCE
    schema = StructType(list(df.schema.fields)
                        + [StructField(flag_col, BooleanType())])

    def kernel(iterator):
        for batch, mask in _probe_masks(bc.value, key, iterator):
            out = batch.copy()
            out[flag_col] = mask
            yield out

    return ensure_parallelism(df).mapInPandas(kernel, schema=schema)


def bloom_anti_join(probe: DataFrame, build: DataFrame, key: str,
                    error_rate: float = 0.01,
                    n_keys: int | None = None) -> DataFrame:
    """Exact left-anti join with Bloom acceleration — the incremental
    ingest screen: "which of today's crawl keys are NOT already in
    the corpus".

    Zero-false-negative logic inverted for anti semantics: a probe
    row whose key FAILS the filter is a definite non-member and
    bypasses the shuffle entirely (it IS output, map-side); only the
    possible-members — true matches plus ~FPR of the rest — take the
    exact anti-join that removes false positives.  Output equals
    ``probe.join(build.select(key), key, "left_anti")`` row for row.

    At 100 TB of daily crawl vs an existing corpus this shuffles
    ~|matches| + FPR·|new| rows instead of the whole day: with most
    input genuinely new (the common crawl case) the anti-join's
    shuffle collapses to the duplicate slice.  The build
    (``SketchSpec.update`` → ``BloomFilter.update_batch``) and the
    probe (``bloom_key_flag`` → ``contains_values``) share the
    filter's one raw-key encoding.
    """
    if n_keys is None:
        n_keys = build.count()
    if n_keys == 0:
        return probe
    spec = SketchSpec.make("bloom", key, prep="raw",
                           capacity=max(n_keys, 1),
                           error_rate=error_rate)
    bloom, _rows = build_sketch(build.select(key), spec)
    if bloom is None:
        return probe
    flag = "_bloom_maybe"
    flagged = bloom_key_flag(probe, key, bloom.to_payload(), flag_col=flag)
    definite_new = flagged.where(~F.col(flag)).drop(flag)
    maybe = flagged.where(F.col(flag)).drop(flag)
    verified_new = maybe.join(build.select(key), key, "left_anti")
    return definite_new.unionByName(verified_new.select(*probe.columns))


def bloom_prejoin(probe: DataFrame, build: DataFrame, key: str,
                  how: str = "inner", error_rate: float = 0.01,
                  n_keys: int | None = None,
                  range_prefilter: bool = True) -> DataFrame:
    """Equi-join with a Bloom runtime filter: ``probe ⋈ build`` on
    ``key``, where probe-side rows are pruned map-side by a Bloom
    filter of the build side's keys before any shuffle.

    Exactness: pruned rows have no join partner (zero false
    negatives), and false positives are removed by the exact join —
    the output equals ``probe.join(build, key, how)`` row for row.
    Only ``inner`` and ``left_semi`` are accepted: an outer join must
    keep unmatched probe rows, which pruning would drop.

    ``n_keys``: optional build-side cardinality hint for filter
    sizing (skips a count job; an upper bound is fine — oversizing
    only lowers the FPR).

    ``range_prefilter=True`` (default) additionally collects the
    build side's key min/max (one tiny agg job — the build side is
    the small side by assumption; combined with the count when
    ``n_keys`` is omitted) and plants ``key BETWEEN mn AND mx`` ahead
    of the Bloom kernel, which Catalyst pushes into the probe-side
    scan for row-group / partition pruning (see ``bloom_key_filter``).

    Relation to Spark's own runtime filters: with
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` Catalyst
    injects a bloom filter into shuffle joins it plans itself, within
    creation-side size thresholds.  This explicit operator wins when
    the filter must be REUSED across several scans/queries, when the
    build side exceeds the injection thresholds (banked >1 GiB
    filters), when the probe feeds a python-kernel pipeline Catalyst
    cannot see through, or when the build side is a computed
    DataFrame the optimizer will not consider.
    """
    if how not in _PRUNABLE:
        raise ValueError(
            f"bloom_prejoin only supports {_PRUNABLE}, got {how!r}: "
            "outer joins must keep unmatched probe rows")
    key_range = None
    if range_prefilter:
        aggs = [F.min(key), F.max(key)]
        if n_keys is None:
            aggs.append(F.count(F.lit(1)))
        row = build.agg(*aggs).collect()[0]
        key_range = (row[0], row[1])
        if n_keys is None:
            n_keys = row[2]
    elif n_keys is None:
        n_keys = build.count()
    spec = SketchSpec.make("bloom", key, prep="raw",
                           capacity=max(n_keys, 1), error_rate=error_rate)
    bloom, _rows = build_sketch(build.select(key), spec)
    if bloom is None:
        bloom = spec.new_sketch()
    pruned = bloom_key_filter(probe, key, bloom.to_payload(),
                              key_range=key_range)
    return pruned.join(build, key, how)


def stage_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 8, path: str | None = None,
                   sort: bool = True) -> None:
    """Write ``df`` as a hash-bucketed (and bucket-sorted) parquet
    table registered in the session catalog.

    Bucketing is the PRE-SHUFFLE: rows are hash-partitioned on
    ``key`` into ``n_buckets`` files at WRITE time, so every later
    equi-join or aggregation on ``key`` between co-bucketed tables
    reads matching buckets into matching partitions and skips the
    exchange entirely.  At 100 TB this converts the recurring
    fact-to-fact join shuffle (the single largest cost in a curation
    pipeline run daily over the same tables) into a one-time layout
    cost; the per-query plan is Scan→Sort?→SortMergeJoin with NO
    Exchange on either side (plan-asserted in
    tests/test_plans.py).  ``path`` keeps the data external (scratch
    dir) — only table METADATA lives in the session catalog.
    """
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(spark, left_table: str, right_table: str, key: str,
                  how: str = "inner") -> DataFrame:
    """Shuffle-free sort-merge join of two co-bucketed tables (same
    key, same bucket count — ``stage_bucketed``).  The ``merge`` hint
    pins the SMB path so the demonstration can't silently degrade to
    a broadcast join at test scale; bucketed scans then align the
    partitioning on both sides and Catalyst elides both exchanges.
    """
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, key, how)
