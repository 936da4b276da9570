"""Structured-Streaming monitor: streaming classification must equal
the batch path on the same pages; watermarked windows accumulate
across micro-batches; the checkpoint makes a second run resume
without reprocessing."""

import os

import pytest
from pyspark.sql import functions as F

from facs_spark.ops.contamination import (build_reference_bloom,
                                          classify_pages)
from facs_spark.session import get_spark
from facs_spark.streaming.monitor import (classify_stream,
                                          run_monitor_once, stream_pages,
                                          windowed_contamination)


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_spark_streaming_tests", cpus=4,
                    shuffle_partitions=4)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """Three 'crawl drop' files with timestamps spanning three hourly
    windows; text drawn half from the reference corpus."""
    from facs_spark.io.synth import synth_pages
    base = tmp_path_factory.mktemp("stream_pages")
    pages = synth_pages(spark, 600, partitions=3).withColumn(
        "warc_ts",
        F.to_timestamp(F.lit("2026-03-01 00:30:00"))
        + (F.col("url").substr(-1, 1).cast("int") % 3
           * F.expr("INTERVAL 1 HOUR")))
    for i in range(3):
        (pages.filter(F.crc32("url") % 3 == i)
         .write.mode("overwrite").parquet(str(base / f"drop{i}.parquet")))
        # file source wants files, not directories: lift the parts up
        for f in os.listdir(base / f"drop{i}.parquet"):
            if f.startswith("part-"):
                os.rename(base / f"drop{i}.parquet" / f,
                          base / f"batch{i}_{f}")
        import shutil
        shutil.rmtree(base / f"drop{i}.parquet")
    return str(base)


def test_stream_matches_batch_and_resumes(spark, pages_dir, tmp_path):
    docs = spark.read.parquet(f"{pages_dir}/*.parquet")
    ref = docs.limit(40)
    bloom = build_reference_bloom(ref, text_col="text", k=15,
                                  error_rate=1e-6)

    stream = stream_pages(spark, f"{pages_dir}/*.parquet")
    assert stream.isStreaming
    classified = classify_stream(stream, bloom, tole_rate=0.4)
    report = windowed_contamination(classified, window="1 hour",
                                    watermark="2 hours", by_lang=False)
    ckpt = str(tmp_path / "ckpt")
    run_monitor_once(report, ckpt, query_name="mon_test")
    got = {(r["win"]["start"].isoformat(), r["total_read_count"],
            r["contaminated_reads"])
           for r in spark.sql("SELECT * FROM mon_test").collect()}

    # batch ground truth: same kernel, same windows
    batch = classify_pages(docs, bloom, passthrough=("warc_ts",),
                           tole_rate=0.4)
    expect = {(r["win"]["start"].isoformat(), r["total_read_count"],
               r["contaminated_reads"])
              for r in (batch.groupBy(F.window("warc_ts", "1 hour")
                                      .alias("win"))
                        .agg(F.count(F.lit(1)).alias("total_read_count"),
                             F.sum(F.col("contaminated").cast("long"))
                              .alias("contaminated_reads"))).collect()}
    assert got == expect and len(got) == 3

    # resume: nothing new in the source → no windows change
    q = run_monitor_once(report, ckpt, query_name="mon_test2")
    assert q.lastProgress is None or \
        q.lastProgress["numInputRows"] == 0


def test_streaming_grouped_hll_state(spark, pages_dir, tmp_path):
    """applyInPandasWithState: per-lang HLL state folds micro-batches
    cumulatively; the final per-lang estimate matches the batch
    countDistinct within the published bound."""
    from facs_spark.streaming.monitor import stream_pages
    from facs_spark.ops.sketch_agg import SketchSpec
    from facs_spark.streaming.stateful import streaming_grouped_sketch

    stream = stream_pages(spark, f"{pages_dir}/*.parquet")
    running = streaming_grouped_sketch(
        stream, SketchSpec.make("hll", "url", p=12), key_col="lang")
    q = (running.writeStream.outputMode("update").format("memory")
         .queryName("hll_state")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM hll_state").collect()
    assert rows
    # update mode emits one row per group per micro-batch; the row
    # with MAX rows_seen per group is the final state
    final = {}
    for r in rows:
        if (r["group_key"] not in final
                or r["rows_seen"] > final[r["group_key"]]["rows_seen"]):
            final[r["group_key"]] = r

    import pyspark.sql.functions as F
    docs = spark.read.parquet(f"{pages_dir}/*.parquet")
    exact = {r["lang"]: (r["n"], r["d"]) for r in
             docs.groupBy("lang").agg(
                 F.count(F.lit(1)).alias("n"),
                 F.countDistinct("url").alias("d")).collect()}
    assert set(final) == set(exact)
    bound = 3 * 1.04 / (2 ** 6)  # 3σ at p=12 (m=4096, √m=64)
    for lang, r in final.items():
        n, d = exact[lang]
        assert r["rows_seen"] == n
        assert abs(r["estimate"] - d) <= bound * d + 1.0
        # the emitted blob is a mergeable sketch, end-to-end
        from facs_spark.sketch import sketch_from_bytes
        assert abs(sketch_from_bytes(bytes(r["sketch"])).estimate()
                   - r["estimate"]) < 1e-9


def test_streaming_grouped_sketch_kll(spark, pages_dir, tmp_path):
    """The generic spec-driven stateful operator: a running KLL of
    text length per lang; the final median estimate must sit within
    the sketch's rank error of the batch median."""
    from facs_spark.ops.sketch_agg import SketchSpec
    from facs_spark.streaming.monitor import stream_pages
    from facs_spark.streaming.stateful import streaming_grouped_sketch

    stream = (stream_pages(spark, f"{pages_dir}/*.parquet")
              .withColumn("n_chars", F.length("text")))
    spec = SketchSpec.make("kll", "n_chars", k=200)
    running = streaming_grouped_sketch(stream, spec, key_col="lang")
    q = (running.writeStream.outputMode("update").format("memory")
         .queryName("kll_state")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    final = {}
    for r in spark.sql("SELECT * FROM kll_state").collect():
        if (r["group_key"] not in final
                or r["rows_seen"] > final[r["group_key"]]["rows_seen"]):
            final[r["group_key"]] = r
    docs = (spark.read.parquet(f"{pages_dir}/*.parquet")
            .withColumn("n_chars", F.length("text")))
    for lang, r in final.items():
        grp = docs.filter(F.col("lang") == lang)
        n = grp.count()
        assert r["rows_seen"] == n
        rank = grp.filter(F.col("n_chars") <= r["estimate"]).count() / n
        from facs_spark.sketch import sketch_from_bytes
        sk = sketch_from_bytes(bytes(r["sketch"]))
        assert abs(rank - 0.5) <= sk.rank_error + 1.0 / n, (lang, rank)


def test_stream_watermark_evicts_state(spark, tmp_path):
    """The q38 pipeline's watermark actually BOUNDS state: after the
    two-batch drain (old-days backfill, then the fresh tail), the
    aggregation state holds only the windows the final watermark has
    not yet finalized — far fewer than the total distinct windows —
    and the emitted result still equals the batch GROUP BY (no data
    within the threshold was dropped)."""
    import uuid

    from facs_spark.queries import _q38_stage
    from facs_spark.streaming.monitor import windowed_event_counts

    sf_dir = "/root/testdata/sf0.001"
    src, ckpt = _q38_stage(spark, sf_dir)
    try:
        ev = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .option("maxFilesPerTrigger", "1")
              .parquet(src))
        agg = windowed_event_counts(ev, ts_col="ts", window="1 day",
                                    watermark="2 days")
        out = agg.select(
            F.date_format("win.start", "yyyy-MM-dd").alias("day"),
            "event_type", "n")
        qname = "wm_evict_" + uuid.uuid4().hex[:6]
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(qname).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p["stateOperators"]]
        assert len(progress) >= 2, "expected two micro-batches"
        first, last = progress[0], progress[-1]
        n_windows_total = first["stateOperators"][0]["numRowsTotal"]
        n_state_final = last["stateOperators"][0]["numRowsTotal"]
        # batch 1 held every (day × type) window; the final watermark
        # (max_old_ts − 2d) finalized all but the trailing ~5 days
        assert n_state_final < n_windows_total / 3, (
            n_state_final, n_windows_total)
        assert last["eventTime"].get("watermark", "").startswith("2024")
        # and the emitted counts still equal the batch GROUP BY
        got = {(r["day"], r["event_type"]): r["n"] for r in spark.sql(
            f"SELECT day, event_type, MAX(n) AS n FROM {qname} "
            "GROUP BY day, event_type").collect()}
        want = {(r["day"], r["event_type"]): r["n"] for r in
                (spark.read.parquet(f"{sf_dir}/events.parquet")
                 .groupBy(F.date_format(F.date_trunc("day", "ts"),
                                        "yyyy-MM-dd").alias("day"),
                          "event_type")
                 .agg(F.count(F.lit(1)).alias("n"))).collect()}
        assert got == want
    finally:
        import shutil
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_sessions_merge_and_flush(spark, tmp_path):
    """session_window + watermark in append mode: a session whose
    events straddle two micro-batches is MERGED in the state store
    (one emitted row, not two); finalized sessions are emitted exactly
    once when the watermark passes their close; only the sentinel's
    open session remains in state at drain end."""
    import uuid

    from facs_spark.streaming.monitor import (run_monitor_once,
                                              streaming_sessions)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    m = 60  # seconds
    base = 1_700_000_000
    # user 1: events at 0m,10m | 20m,60m → sessions [0,20]×3, [60]×1
    # (the 10m→20m step crosses the file boundary → state merge);
    # user 2: 5m in file A only → [5]×1
    file_a = [(1, base + 0 * m), (1, base + 10 * m), (2, base + 5 * m)]
    file_b = [(1, base + 20 * m), (1, base + 60 * m)]
    tick = [(-1, base + 90 * 24 * 3600)]
    src = tmp_path / "src"
    src.mkdir()
    import os as _os
    import time as _time
    now = _time.time()
    for i, (name, rows) in enumerate([("0_a", file_a), ("1_b", file_b),
                                      ("2_tick", tick)]):
        df = spark.createDataFrame(
            [(int(u), int(t)) for u, t in rows],
            "user_id long, ep long").select(
            "user_id", F.timestamp_seconds("ep").alias("ts"))
        tmp = tmp_path / f"w_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        import glob as _glob
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        _os.rename(part, dst)
        _os.utime(dst, (now - 90 + i * 30,) * 2)
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    sess = streaming_sessions(stream, "ts", gap="30 minutes",
                              watermark="10 minutes")
    qname = "sess_" + uuid.uuid4().hex[:6]
    q = run_monitor_once(
        sess.select("user_id",
                    F.col("sess_start").cast("long").alias("s"),
                    F.col("sess_end").cast("long").alias("e"),
                    "n_events"),
        str(tmp_path / "ckpt"), query_name=qname, output_mode="append")
    rows = sorted((r["user_id"], r["s"], r["e"], r["n_events"])
                  for r in spark.sql(
                      f"SELECT * FROM {qname} WHERE user_id >= 0")
                  .collect())
    spark.catalog.dropTempView(qname)
    assert rows == [
        (1, base, base + 20 * m, 3),      # merged across files a/b
        (1, base + 60 * m, base + 60 * m, 1),
        (2, base + 5 * m, base + 5 * m, 1),
    ], rows
    # state at drain end: only the sentinel's own un-closed session
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    assert progress[-1]["stateOperators"][0]["numRowsTotal"] == 1


def test_streaming_dedup_drops_replays_and_evicts(spark, tmp_path):
    """streaming_dedup: a replayed micro-batch inside the watermark
    contributes nothing (exactly-once emission per key), and the
    dedup state store holds only keys the watermark hasn't passed —
    bounded state on an unbounded stream."""
    import pandas as pd

    from facs_spark.streaming.monitor import run_monitor_once, streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2026-01-10 00:00:00")
    fresh = pd.DataFrame({
        "k": [1, 2, 3, 4],
        "ts": [base, base + pd.Timedelta(hours=1),
               base + pd.Timedelta(hours=2), base + pd.Timedelta(hours=3)],
    })
    old = pd.DataFrame({
        "k": [100, 101],
        "ts": [base - pd.Timedelta(days=30),
               base - pd.Timedelta(days=30, hours=1)],
    })
    import glob as _glob
    import shutil as _shutil
    new = pd.DataFrame({"k": [5], "ts": [base + pd.Timedelta(hours=4)]})
    # two single-file batches; file mtime orders the micro-batches
    for i, pdf in enumerate([pd.concat([old, fresh]),
                             pd.concat([fresh, new])]):  # b1 replays fresh
        tmp = str(tmp_path / f"w{i}")
        spark.createDataFrame(pdf).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = _glob.glob(tmp + "/part-*.parquet")[0]
        dst = str(src / f"b{i}.parquet")
        _shutil.move(part, dst)
        os.utime(dst, (1000 + i * 100, 1000 + i * 100))

    stream = (spark.readStream.schema("k long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    deduped = streaming_dedup(stream, id_cols=("k",), ts_col="ts",
                              watermark="2 days")
    q = run_monitor_once(deduped, str(tmp_path / "ckpt"),
                        query_name="dedup_sink", output_mode="append")
    rows = spark.sql("SELECT k FROM dedup_sink").collect()
    spark.catalog.dropTempView("dedup_sink")
    # every key exactly once: replays dropped, the new key kept
    assert sorted(r.k for r in rows) == [1, 2, 3, 4, 5, 100, 101]
    # state bounded: the 30-day-old keys are behind the watermark and
    # evicted; only the fresh horizon's keys remain in the state store
    prog = [p for p in (q.recentProgress or []) if p and p.get("stateOperators")]
    last = prog[-1]["stateOperators"][0]
    assert last["numRowsTotal"] <= 5, \
        f"dedup state kept {last['numRowsTotal']} keys; eviction broken"


def test_streaming_grouped_sketch_mg(spark, pages_dir, tmp_path):
    """Streaming Misra-Gries per lang: after the stream drains, the
    state-store summary obeys est <= true <= est + N/(k+1) against
    the exact batch token counts — the merge-soundness property
    (state' = merge(state, sketch(batch))) for an UNDERCOUNT-only
    sketch, plus the scalar monitor column (tracked-entry count)."""
    from facs_spark.ops.sketch_agg import SketchSpec
    from facs_spark.streaming.monitor import stream_pages
    from facs_spark.streaming.stateful import streaming_grouped_sketch

    stream = stream_pages(spark, f"{pages_dir}/*.parquet")
    spec = SketchSpec.make("mg", "text", prep="tokens", k=256)
    running = streaming_grouped_sketch(stream, spec, key_col="lang")
    q = (running.writeStream.outputMode("update").format("memory")
         .queryName("mg_state")
         .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    final = {}
    for r in spark.sql("SELECT * FROM mg_state").collect():
        if (r["group_key"] not in final
                or r["rows_seen"] > final[r["group_key"]]["rows_seen"]):
            final[r["group_key"]] = r
    docs = spark.read.parquet(f"{pages_dir}/*.parquet")
    toks = (docs.select("lang",
                        F.explode(F.split("text", " ")).alias("t"))
            .filter(F.col("t") != ""))
    from facs_spark.sketch import sketch_from_bytes
    for lang, r in final.items():
        sk = sketch_from_bytes(bytes(r["sketch"]))
        assert r["estimate"] == float(len(sk.counters)) <= 256
        grp = toks.filter(F.col("lang") == lang)
        n_tok = grp.count()
        assert sk.total == n_tok
        top = (grp.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
               .orderBy(F.desc("c"), "t").limit(20).collect())
        for row in top:
            est = sk.estimate(row["t"])
            assert est <= row["c"] <= est + sk.error_bound


def test_streaming_priority_sample_equals_batch(spark, tmp_path):
    """The streaming fold's final sample — ids, weights, AND
    Horvitz–Thompson est_weight — is bit-identical to an independent
    python replay of the batch priority sample per group, regardless
    of micro-batch count (1-file-per-trigger vs drain-all), and state
    carries O(k) per group."""
    import hashlib
    import os
    import shutil

    import numpy as np
    import pandas as pd
    from facs_spark.streaming.stateful import streaming_priority_sample

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({
        "doc_id": np.arange(900, dtype=np.int64),
        "lang": [("en", "de", "zh")[i % 3] for i in range(900)],
        "n_chars": rng.integers(1, 5000, 900).astype(np.int64),
    })
    src = tmp_path / "src"
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(pdf[pdf.doc_id % 3 == i]).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp_path / f"w{i}"))
        for f in os.listdir(tmp_path / f"w{i}"):
            if f.startswith("part-"):
                os.rename(tmp_path / f"w{i}" / f, src / f"{i}.parquet")
        shutil.rmtree(tmp_path / f"w{i}")

    def drain(max_files, name):
        reader = (spark.readStream
                  .schema("doc_id long, lang string, n_chars long"))
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        out = streaming_priority_sample(reader.parquet(str(src)),
                                        "lang", "doc_id", "n_chars",
                                        k=20, seed=5)
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName(name)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        spark.catalog.dropTempView(name)
        seen = {}
        for r in rows:
            seen[r["group_key"]] = max(seen.get(r["group_key"], 0),
                                       r["rows_seen"])
        return {(r["group_key"], r["id"], r["weight"], r["est_weight"])
                for r in rows if r["rows_seen"] == seen[r["group_key"]]}

    multi = drain(1, "ps_multi")
    single = drain(None, "ps_single")
    assert multi == single

    want = set()
    for lang, grp in pdf.groupby("lang"):
        pri = sorted(
            ((w / ((int(hashlib.md5(f"5:{i}".encode()).hexdigest()[:13],
                        16) + 1) / 2.0 ** 52), i, float(w))
             for i, w in zip(grp.doc_id, grp.n_chars)),
            key=lambda t: (-t[0], t[1]))
        tau = pri[20][0] if len(pri) > 20 else 0.0
        want |= {(lang, i, w, max(w, tau)) for _, i, w in pri[:20]}
    assert multi == want
