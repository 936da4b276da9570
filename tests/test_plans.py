"""Physical-plan regression guards: the properties that make the
operators scale (filter pushdown into the parquet scan, column
pruning, map-side partial aggregation, shuffle-free broadcast
classification) asserted on the actual Catalyst output, so a future
refactor that silently de-optimizes a plan fails loudly."""

import pytest
from pyspark.sql import functions as F

from facs_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_spark_plan_tests", cpus=4, shuffle_partitions=4)


def _formatted(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(
        mode.fromString("formatted"))


def _n_nodes(plan: str, op: str) -> int:
    """Count physical nodes by their detail header '(N) <op>' — the
    formatted mode prints every node twice (tree + detail)."""
    import re
    return len(re.findall(rf"^\(\d+\) {op}", plan, flags=re.M))


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity").alias("s")))
    plan = _formatted(q)
    assert "LessThanOrEqual(l_shipdate" in plan, "filter not pushed to scan"
    # projection pruned to the 4 referenced columns, not the full table
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read and "l_orderkey" not in read
    for c in ("l_quantity", "l_returnflag", "l_linestatus", "l_shipdate"):
        assert c in read
    # partial+final aggregation around exactly one shuffle
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "HashAggregate") >= 2


def test_classification_is_shuffle_free(spark):
    """The broadcast-Bloom semi-join: pages must NOT shuffle — the
    whole classify stage is a map over the scan; only the 1-row
    counter aggregation exchanges (partial+final)."""
    from facs_spark.ops.contamination import (build_reference_bloom,
                                              classify_pages,
                                              contamination_counters)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ref = docs.filter(F.col("source") == "src0")
    bloom = build_reference_bloom(ref, text_col="text", k=15,
                                  error_rate=0.01)
    classified = classify_pages(docs, bloom, text_col="text",
                                tole_rate=0.4)
    plan = _formatted(classified)
    # ensure_parallelism's round-robin REPARTITION_BY_NUM is allowed
    # (local-mode fan-out, a no-op on a real cluster); any KEYED
    # exchange would mean pages are being shuffled — forbidden
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    # the classify stage itself is a map: scan → (repartition) → kernel
    assert _n_nodes(plan, "MapInArrow") == 1
    counters = contamination_counters(classified)
    cplan = _formatted(counters)
    # the only additional exchange is the 1-row final-agg gather
    assert "hashpartitioning" not in cplan.lower()
    assert _n_nodes(cplan, "HashAggregate") >= 2  # partial + final


def test_grouped_sketches_shuffle_blobs_not_text(spark):
    """Grouped sketches: the shuffle payload is (group, blob) partial
    rows from the map side — the raw text column must not appear below
    any Exchange."""
    from facs_spark.ops.sketch_agg import SketchSpec, grouped_sketches
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    g = grouped_sketches(docs, ["lang"],
                         SketchSpec.make("hll", "text", prep="tokens"))
    plan = _formatted(g)
    # the scan feeds MapInPandas before the hash exchange: text is
    # consumed map-side and only (group, blob) partial rows shuffle
    assert _n_nodes(plan, "MapInPandas") == 1
    import re
    exchange_blocks = [b for b in plan.split("\n\n")
                       if re.match(r"\(\d+\) Exchange", b)]
    assert exchange_blocks, "expected a group-key exchange"
    for block in exchange_blocks:
        assert "text#" not in block, "raw text column crosses a shuffle"
        assert "sketch#" in block


def test_exact_dedup_single_shuffle(spark):
    from facs_spark.ops.dedup import exact_dedup
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _formatted(exact_dedup(ev, ["user_id", "event_type"],
                                  "event_id"))
    assert _n_nodes(plan, "Exchange") == 1, "exact dedup must shuffle once"
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read, "unused wide column not pruned from scan"


def test_broadcast_join_on_small_dim(spark):
    """Catalyst must pick a broadcast join for the small part-dim side
    (AQE or static threshold) — no sort-merge on a dim table."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_brand")
    j = (li.join(F.broadcast(part),
                 li.l_partkey == part.p_partkey)
         .groupBy("p_brand").agg(F.count(F.lit(1)).alias("n")))
    plan = _formatted(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both fact tables on the join key makes the join
    co-located: Catalyst plans a SortMergeJoin with ZERO exchanges —
    the 'pre-shuffle once, join many times' shape the 100-TB design
    notes call for."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/wh'")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("bkt.li_b"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("bkt.ord_b"))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.table("bkt.li_b")
            b = spark.table("bkt.ord_b")
            j = a.join(b, a.l_orderkey == b.o_orderkey).select(
                "l_orderkey", "l_quantity", "o_orderpriority")
            plan = _formatted(j)
            assert _n_nodes(plan, "SortMergeJoin") == 1
            assert _n_nodes(plan, "Exchange") == 0, \
                "bucketed join must not shuffle either side"
            # same join on the unbucketed parquet shuffles both sides
            ju = li.join(orders, li.l_orderkey == orders.o_orderkey) \
                   .select("l_orderkey", "l_quantity", "o_orderpriority")
            assert _n_nodes(_formatted(ju), "Exchange") == 2
            # results identical
            assert j.count() == ju.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt.li_b")
        spark.sql("DROP TABLE IF EXISTS bkt.ord_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_simhash_candidates_cell_cap_plan(spark):
    """The candidate stage must be the one-exchange groupBy + in-JVM
    pair-cascade shape: exactly TWO keyed exchanges (the (blk, val)
    cell gather and the pair-distinct), every shuffle key a long cell/
    pair key (never text), NO join node, NO sort (hash agg gathers the
    cells; the window shape this replaced sorted every partition), and
    the pair expansion in codegen (Generate/explode), not python."""
    import re

    from facs_spark.ops.dedup import simhash_near_pairs
    fp = spark.createDataFrame([(i, i * 7) for i in range(50)],
                               "doc_id long, simhash long")
    plan = _formatted(simhash_near_pairs(fp, "doc_id", max_hamming=3))
    n_ex = _n_nodes(plan, "Exchange")
    assert n_ex <= 2, f"{n_ex} exchanges — cap shape regressed"
    keys = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    for k in keys:
        assert k.startswith(("blk#", "id_a#")), f"unexpected shuffle key {k}"
    assert _n_nodes(plan, "Sort") == 0, "no sort expected (hash agg)"
    assert "Join" not in plan.split("\n\n")[0], "no join node expected"
    assert _n_nodes(plan, "Generate") >= 1  # explode of the pair arrays
    # cell-gather (partial+final) + pair-distinct (partial+final)
    assert _n_nodes(plan, r"\w*HashAggregate") == 4


def test_bloom_prejoin_filter_is_map_side(spark):
    """The Bloom runtime-filter half of bloom_prejoin must add NO
    exchange: pruning happens in the map stage over the scan, so the
    join's shuffle sees only surviving rows.  (The input here is
    pre-repartitioned so ensure_parallelism's small-local-input
    repartition — a no-op at cluster scale — doesn't appear.)"""
    from facs_spark.ops.joins import bloom_key_filter
    from facs_spark.ops.sketch_agg import SketchSpec, build_sketch
    import pandas as pd
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select(F.col("l_partkey").alias("k"), "l_quantity")
          .repartition(8))
    build = spark.createDataFrame(pd.DataFrame({"k": [3, 7, 11]}))
    bloom, _ = build_sketch(build, SketchSpec.make(
        "bloom", "k", prep="raw", capacity=3, error_rate=1e-6))
    plan = _formatted(bloom_key_filter(li, "k", bloom.to_bytes()))
    # exactly the one repartition we created — the filter adds none
    assert _n_nodes(plan, "Exchange") == 1
    assert _n_nodes(plan, "MapInPandas") == 1


def test_bloom_prejoin_range_pushdown(spark, tmp_path):
    """The range prefilter must reach the STORAGE layer: on a
    partitioned fixture the build side's key min/max shows up as a
    partition filter (whole directories skipped — the scan lists only
    the in-range partitions) and as PushedFilters on an unpartitioned
    scan (row-group zone-map pruning).  The join result must equal
    the plain join exactly (the prefilter is semantically invisible)."""
    import pandas as pd

    from facs_spark.ops.joins import bloom_prejoin

    # probe fixture partitioned by a key-derived bucket: key k in
    # [0, 4000), partition kb = k div 1000 — 4 directories
    probe = (spark.range(0, 4000)
             .select(F.col("id").alias("k"),
                     (F.col("id") % 97).alias("v"),
                     (F.col("id") / 1000).cast("int").alias("kb")))
    path = str(tmp_path / "probe_parted")
    probe.write.partitionBy("kb").mode("overwrite").parquet(path)
    parted = spark.read.parquet(path)
    # build side: keys 1200-1299 — entirely inside partition kb=1
    build = spark.createDataFrame(
        pd.DataFrame({"k": list(range(1200, 1300))}))
    joined = bloom_prejoin(parted, build, "k", how="inner",
                           error_rate=1e-6)
    plan = _formatted(joined)
    # the BETWEEN prefilter is pushed into the parquet scan
    assert "GreaterThanOrEqual(k,1200)" in plan, plan.split("\n\n")[0]
    assert "LessThanOrEqual(k,1299)" in plan
    # and composes with partition pruning when the key correlates
    # with the partition column: derive the kb bounds from the same
    # range and the scan lists ONE partition instead of four
    kb_joined = bloom_prejoin(
        parted.filter(F.col("kb").between(1200 // 1000, 1299 // 1000)),
        build, "k", how="inner", error_rate=1e-6)
    kb_plan = _formatted(kb_joined)
    import re
    m = re.search(r"Scan parquet[\s\S]*?(partition filters|"
                  r"PartitionFilters): \[([^\]]*)\]", kb_plan, re.I)
    assert m and "kb" in m.group(2), kb_plan[:2000]
    # exactness: identical rows to the plain join
    plain = parted.join(build, "k", "inner")
    got = sorted(tuple(r) for r in joined.collect())
    want = sorted(tuple(r) for r in plain.collect())
    assert got == want and len(got) == 100


def test_stage_bucketed_join_op_plan(spark, tmp_path):
    """The ops-layer surface (stage_bucketed + bucketed_join, q49):
    co-bucketed staging makes the op's join plan exchange-free even
    under the merge hint, and results match the plain join."""
    from facs_spark.ops.joins import bucketed_join, stage_bucketed
    cust = spark.read.parquet(f"{SF}/customer.parquet") \
        .select("c_custkey", "c_mktsegment")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    stage_bucketed(cust, "t_bkt_cust", "c_custkey", n_buckets=4,
                   path=str(tmp_path / "c"))
    stage_bucketed(orders, "t_bkt_ord", "c_custkey", n_buckets=4,
                   path=str(tmp_path / "o"))
    try:
        j = bucketed_join(spark, "t_bkt_cust", "t_bkt_ord", "c_custkey")
        plan = _formatted(j)
        assert _n_nodes(plan, "SortMergeJoin") == 1
        assert _n_nodes(plan, "Exchange") == 0, \
            "co-bucketed op join must not shuffle"
        plain = cust.join(orders, "c_custkey")
        assert j.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_cust")
        spark.sql("DROP TABLE IF EXISTS t_bkt_ord")


def test_duplicate_spans_plan_shape(spark):
    """Substring dedup must keep text out of every shuffle: the
    occurrence rows (id, pos, gh longs) are the only payload that
    crosses an exchange; the dup-gram count agg is map-side combined
    (partial+final), the occurrence re-probe is a LEFT SEMI join
    (AQE-broadcastable), and there is no cartesian product."""
    import re

    from facs_spark.ops.dedup import duplicate_spans
    df = spark.createDataFrame(
        [(i, f"tok{i} " * 12) for i in range(40)],
        "doc_id long, text string")
    plan = _formatted(duplicate_spans(df, min_tokens=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"LeftSemi", plan), "semi-join probe expected"
    # every hash-partitioned shuffle key is gh/doc_id — never text
    for k in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert k.startswith(("gh#", "doc_id#")), f"shuffle key {k}"
    assert "text#" not in "".join(
        re.findall(r"Arguments: hashpartitioning\([^)]*\)", plan))
    # dup-gram count: partial + final hash aggregate (map-side combine)
    assert _n_nodes(plan, r"\w*HashAggregate") >= 2


def test_salted_join_no_nested_loop(spark):
    """Salt replication must be explode(sequence) codegen fan-out —
    the crossJoin-with-range shape planned a BroadcastNestedLoopJoin
    node for a bounded 8-row fan-out."""
    from facs_spark.ops.skew import salted_join
    big = spark.range(100).selectExpr("id as k", "id as v")
    small = spark.range(10).selectExpr("id as k", "id as w")
    plan = _formatted(salted_join(big, small, "k", nsalt=8))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert _n_nodes(plan, "Generate") >= 1  # the explode fan-out


def test_scrub_and_gopher_are_shuffle_free_maps(spark):
    """PII scrubbing and the Gopher rule set must compile to pure
    projections over the scan — zero exchanges, no Python eval node —
    so a 100-TB corpus pays exactly one map over row groups."""
    from facs_spark.ops.scrub import scrub_pii
    from facs_spark.ops.textstats import gopher_rules
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for out in (scrub_pii(docs), gopher_rules(docs)):
        plan = _formatted(out)
        assert _n_nodes(plan, "Exchange") == 0, plan
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert bad not in plan, f"{bad} in plan"
        # column pruning intact: reading through the op with a narrow
        # projection must not drag the full schema
        read = _formatted(scrub_pii(docs).select("doc_id"))
        assert "ReadSchema" in read


def test_script_profile_is_shuffle_free_map(spark):
    """The script profile (r7: one vectorized UTF-32 codepoint
    kernel instead of five JVM regexp_count passes) must stay a pure
    per-partition map — exactly one MapInPandas, NO keyed exchange
    (ensure_parallelism's round-robin fan-out is allowed, as in the
    classify plan), no row-at-a-time Python."""
    from facs_spark.ops.textstats import script_profile
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(script_profile(docs))
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert _n_nodes(plan, "MapInPandas") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    # column pruning through the kernel: only (id, text) reach it
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read and "source" not in read, read


def test_linear_quality_single_agg_no_join(spark):
    """hashed_linear_score: in-expression weights ⇒ one explode, one
    map-side-combined agg, no join, no Python anywhere."""
    from facs_spark.ops.textstats import hashed_linear_score
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(hashed_linear_score(docs))
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "Join" not in plan, plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, f"{bad} in plan"


def test_group_stat_filter_broadcasts_stats(spark):
    """The group-verdict join must be broadcast when requested (no
    shuffle of the doc side) and the stats agg map-side partial."""
    from facs_spark.ops.sampling import group_stat_filter
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = group_stat_filter(docs, "source", "n_chars", min_mean=0.0)
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan, plan
    assert _n_nodes(plan, "HashAggregate") >= 2  # partial + final
    # doc side reaches the join without an exchange (broadcast side
    # has its own small exchange feeding the agg)
    assert "SortMergeJoin" not in plan


def test_chunk_text_is_shuffle_free_generate(spark):
    """Context-window chunking must be map-side only: the posexplode
    multiplies rows inside each task (Generate node), with zero
    exchanges and no Python eval — at 100 TB chunking costs exactly
    one pass over the scan."""
    from facs_spark.ops.chunking import chunk_text
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(chunk_text(docs))
    assert _n_nodes(plan, "Exchange") == 0, plan
    assert "Generate" in plan, plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, f"{bad} in plan"


def test_pack_tokens_single_shuffle(spark):
    """Sequence packing is one exchange on the shard key feeding one
    ordered window scan — the prefix-sum form that distributes."""
    from facs_spark.ops.chunking import pack_tokens
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(pack_tokens(docs))
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "Window" in plan, plan


def test_dsir_weights_broadcasts_bucket_model(spark):
    """The DSIR log-ratio table (≤4096 buckets) must broadcast back
    onto the token stream — the doc side never sort-merge joins.
    The corpus tokenization explode must appear ONCE in the scoring
    plan (the model fit consumed the same persisted count table at
    call time; the old shape exploded the corpus twice)."""
    from pyspark.sql import functions as F
    from facs_spark.ops.selection import dsir_weights
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(dsir_weights(docs, target=F.col("lang") == "en"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the scoring side reads the PERSISTED (id, is_target, bucket)
    # count table — any Generate in the text is inside the
    # InMemoryRelation's build recipe (runs once at cache
    # population), not a second corpus explode
    assert "InMemoryTableScan" in plan, plan


def test_bigram_lm_pair_stream_joins_once(spark):
    """lm_doc_score_bigram folds the unigram count into the bigram
    MODEL at training time, so the corpus-scale pair stream (the
    exploded Generate branch feeding the final per-doc agg) joins
    exactly once — the old shape shuffled the pair stream through
    two joins."""
    from facs_spark.ops.textstats import lm_doc_score_bigram
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(lm_doc_score_bigram(docs))
    # pair stream appears once as probe side of the scoring join and
    # once inside the model fit = 2 Generates for pairs + 1 for the
    # unigram explode; the old two-join shape had the same Generates
    # but routed the SCORING pair stream through two exchanges.
    # Pin the discriminating property: exactly one join touches a
    # plan subtree containing the per-doc id column (the pair
    # stream); equivalently, the total join count is 2 (model fit
    # w1-join + one scoring join), not 3.
    joins = sum(_n_nodes(plan, j) for j in
                ("BroadcastHashJoin", "SortMergeJoin",
                 "ShuffledHashJoin"))
    assert joins == 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ams_build_is_map_side_only(spark):
    """The AMS sketch builds as per-partition partials + driver-side
    tree merge — the BUILD stage has zero exchanges; only the exact
    verifier (a separate branch) shuffles.  Here we pin the partial
    frame itself: one Arrow map over the scan, no Exchange."""
    from facs_spark.ops.sketch_agg import SketchSpec, partial_sketches
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spec = SketchSpec.make("ams", "text", prep="tokens", r=4, c=128)
    plan = _formatted(partial_sketches(docs, spec))
    assert _n_nodes(plan, "Exchange") == 0, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan or \
        "FlatMapGroupsInPandas" in plan, plan


def test_cbf_probe_has_no_join_exchange(spark):
    """q84: membership-after-revocation runs as a broadcast-blob map
    over orders — the plan holds NO join; the only exchange is the
    per-priority counter aggregation (narrow key)."""
    from facs_spark.queries import q84_cbf_revoked_filter
    plan = _formatted(q84_cbf_revoked_filter(spark, SF))
    assert _n_nodes(plan, "BroadcastHashJoin") == 0
    assert _n_nodes(plan, "SortMergeJoin") == 0
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # counters-only shuffle: keyed by o_orderpriority, never o_custkey
    import re
    keys = re.findall(r"hashpartitioning\(([^#)]*)#", plan)
    assert all(k.strip() == "o_orderpriority" for k in keys), keys


def test_sliding_hll_frontier_single_exchange_no_text(spark):
    """Sliding-HLL (q97, r7 partial-frontier shape): every input
    partition reduces to its own LPFM frontier map-side (the
    MapInPandas stage BELOW the exchange), so the single register
    shuffle carries only O(partitions·m·ln n) partial rows — never
    the raw points, never the hashed value column — and the m=256
    register fan-in no longer caps the heavy stage's parallelism."""
    import re

    from facs_spark.ops.sliding_hll import sliding_hll_frontier
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _formatted(sliding_hll_frontier(ev, "user_id", "ts"))
    exchange_blocks = [b for b in plan.split("\n\n")
                       if re.match(r"\(\d+\) Exchange", b)]
    assert len(exchange_blocks) == 1, "frontier must shuffle exactly once"
    assert "user_id#" not in exchange_blocks[0], \
        "hashed value column crosses the shuffle"
    # the partial-frontier kernel must sit BELOW the exchange (map
    # side): formatted numbering starts at the deepest node (Scan=1),
    # so the kernel's number must be LOWER than the Exchange's
    assert _n_nodes(plan, "MapInPandas") == 1
    mip = int(re.search(r"\((\d+)\) MapInPandas", plan).group(1))
    exch = int(re.search(r"\((\d+)\) Exchange", plan).group(1))
    assert mip < exch, "partial-frontier kernel must be map-side"
    # dedup groupBy AND the frontier window both reuse the single
    # register-hash exchange
    assert _n_nodes(plan, "Window") == 1


def test_bbit_minhash_signature_partial_min_map_side(spark):
    """b-bit minhash (q96): the k-exploded hash rows partial-MIN
    map-side, so the signature exchange carries |groups| x k rows,
    never the exploded shingles; text never crosses any exchange.
    Asserts on the op's OWN signature builder (shared helper), so
    the pinned shape is the real pipeline."""
    import re

    from facs_spark.ops.dedup import _bbit_signatures, _word3_shingles
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    sig = _bbit_signatures(
        _word3_shingles(docs, "lang", "text"), "lang", 8)
    plan = _formatted(sig)
    assert _n_nodes(plan, "HashAggregate") >= 4, \
        "expected partial+final pairs for distinct and min"
    sig_exchanges = [b for b in plan.split("\n\n")
                     if re.match(r"\(\d+\) Exchange", b)]
    for block in sig_exchanges:
        assert "text#" not in block, "raw text crosses a shuffle"
    # one signature row per (group, seed), k of them per group
    rows = sig.collect()
    langs = {r["lang"] for r in rows}
    assert len(rows) == 8 * len(langs) and len(langs) >= 1
    assert all(0 <= r["seed"] < 8 and r["minh"] >= 0 for r in rows)


def test_decayed_counts_partial_agg_only_counts_shuffle(spark):
    """q100: per-(key, bucket) counts partial-aggregate map-side;
    the exchange carries only (event_type, bucket, count) rows."""
    import re

    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = F.floor((F.lit(10 ** 18) - ts_us) / F.lit(10 ** 12))
    per_bucket = (ev.select("event_type", bucket.alias("b"))
                  .where(F.col("b") <= 60)
                  .groupBy("event_type", "b")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    plan = _formatted(per_bucket)
    assert _n_nodes(plan, "HashAggregate") == 2, "partial+final agg"
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read and "user_id" not in read, \
        "unused columns not pruned from the scan"
