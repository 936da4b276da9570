"""Skew helpers: salted paths must be byte-equivalent to plain plans."""

import pytest

from facs_spark.ops.skew import salted_join
from facs_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_skew_tests", cpus=4, shuffle_partitions=4)


def test_salted_join_equals_plain(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet").select("p_partkey", "p_brand")
    plain = (li.join(part, li.l_partkey == part.p_partkey)
             .groupBy("p_brand").count())
    salted = (salted_join(li.withColumnRenamed("l_partkey", "p_partkey"),
                          part, "p_partkey", nsalt=8)
              .groupBy("p_brand").count())
    a = {r["p_brand"]: r["count"] for r in plain.collect()}
    b = {r["p_brand"]: r["count"] for r in salted.collect()}
    assert a == b


def test_bloom_prejoin_equals_plain_join(spark):
    """The Bloom runtime-filter join must return exactly the plain
    join (FPR stragglers removed by the exact join; zero false
    negatives by Bloom construction), while the map-side filter
    actually prunes: with a selective build side the pruned probe
    carries a fraction of the rows into the shuffle."""
    import pandas as pd

    from facs_spark.ops.joins import bloom_key_filter, bloom_prejoin
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    probe = spark.createDataFrame(pd.DataFrame({
        "k": [i % 100 for i in range(5000)],
        "v": list(range(5000))}))
    build = spark.createDataFrame(pd.DataFrame({
        "k": [3, 7, 11, 13], "name": ["a", "b", "c", "d"]}))
    got = bloom_prejoin(probe, build, "k", error_rate=1e-6)
    want = probe.join(build, "k")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # the map-side filter is selective (4 of 100 keys ⇒ ~4% survives)
    bloom, _ = build_sketch(build.select("k"), SketchSpec.make(
        "bloom", "k", prep="raw", capacity=4, error_rate=1e-6))
    pruned = bloom_key_filter(probe, "k", bloom.to_bytes()).count()
    assert pruned == 200, pruned  # 4 keys × 50 rows each, no FPs here
    # outer joins must be rejected: pruning would drop unmatched rows
    import pytest as _pytest
    with _pytest.raises(ValueError, match="outer joins"):
        bloom_prejoin(probe, build, "k", how="left")


def test_bloom_prejoin_string_keys(spark):
    """String join keys go through the lowercased length-grouped
    byte-matrix path on BOTH build and probe sides (same prep ⇒ zero
    false negatives)."""
    import pandas as pd

    from facs_spark.ops.joins import bloom_prejoin
    probe = spark.createDataFrame(pd.DataFrame({
        "k": [f"key{i % 50}" for i in range(2000)],
        "v": list(range(2000))}))
    build = spark.createDataFrame(pd.DataFrame({
        "k": ["key3", "key17", "KEY17x"], "name": ["x", "y", "z"]}))
    got = bloom_prejoin(probe, build, "k", error_rate=1e-6)
    want = probe.join(build, "k")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_bloom_joins_timestamp_keys(spark):
    """Timestamp keys encode one value at a time on both sides, so a
    build of all-midnight batches (which pandas would format as bare
    dates) finds its keys in probe batches that mix midnights with
    whole and fractional seconds (which pandas would pad)."""
    import pandas as pd

    from facs_spark.ops.joins import bloom_anti_join, bloom_prejoin
    days = pd.date_range("2020-01-01", periods=20, freq="D")
    build = spark.createDataFrame(pd.DataFrame({
        "ts": days[::2], "name": [f"d{i}" for i in range(10)]}))
    probe_ts = (list(days) + list(days + pd.Timedelta(seconds=1))
                + list(days + pd.Timedelta(milliseconds=1500)))
    probe = spark.createDataFrame(pd.DataFrame({
        "ts": probe_ts, "v": list(range(len(probe_ts)))}))
    got = bloom_prejoin(probe, build, "ts", error_rate=1e-6)
    want = probe.join(build, "ts")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert want.count() == 10
    anti = bloom_anti_join(probe, build, "ts", error_rate=1e-6)
    plain = probe.join(build.select("ts"), "ts", "left_anti")
    assert sorted(r["v"] for r in anti.collect()) == \
        sorted(r["v"] for r in plain.collect())
    assert plain.count() == 50


def test_bloom_key_filter_banked(spark):
    """The pre-join filter and the flag column accept banked payloads
    (the >1 GiB broadcast path, forced small here) and give the same
    rows as the single-blob form."""
    import pandas as pd

    from facs_spark.ops.joins import bloom_key_filter, bloom_key_flag
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    probe = spark.createDataFrame(pd.DataFrame({
        "k": [i % 64 for i in range(3000)], "v": list(range(3000))}))
    build = spark.createDataFrame(pd.DataFrame({"k": [5, 9, 33]}))
    bloom, _ = build_sketch(build, SketchSpec.make(
        "bloom", "k", prep="raw", capacity=3, error_rate=1e-6))
    whole = {r["v"] for r in
             bloom_key_filter(probe, "k", bloom.to_bytes()).collect()}
    banks = bloom.split_banks(max(1, bloom.vector.nbytes // 3))
    assert isinstance(banks, list) and len(banks) >= 3, \
        "fixture must split the bits over several banks"
    banked = {r["v"] for r in
              bloom_key_filter(probe, "k", banks).collect()}
    assert banked == whole and whole

    def flags(payload):
        return sorted((r["v"], r["maybe"]) for r in bloom_key_flag(
            probe, "k", payload, flag_col="maybe").collect())
    flagged = flags(banks)
    assert flagged == flags(bloom.to_bytes())
    assert {v for v, maybe in flagged if maybe} == whole


def test_bloom_anti_join_equals_plain_anti(spark):
    """bloom_anti_join must be bit-identical to the plain left-anti
    join: definite-negatives bypass map-side, false positives are
    removed by the exact branch (forced common with error_rate=0.5),
    and an empty build side returns the probe untouched."""
    from facs_spark.ops.joins import bloom_anti_join

    probe = spark.createDataFrame(
        [(i, i % 700) for i in range(2000)], "row_id long, k long")
    build = spark.createDataFrame(
        [(v,) for v in range(0, 700, 3)], "k long")
    want = sorted(map(tuple,
                      probe.join(build, "k", "left_anti")
                      .select("row_id", "k").collect()))
    for err in (0.5, 1e-4):   # FP-heavy and FP-rare filters
        got = sorted(map(tuple,
                         bloom_anti_join(probe, build, "k",
                                         error_rate=err).collect()))
        assert got == want, f"error_rate={err}"
    empty = build.where("k < 0")
    got = sorted(map(tuple,
                     bloom_anti_join(probe, empty, "k").collect()))
    assert got == sorted(map(tuple, probe.collect()))
