"""Structured-Streaming contamination monitor — the continuous-
ingestion face of the batch pipeline.

The reference is strictly batch (SURVEY §2.10), so this is engine
breadth, not parity: a crawl drops page files into a directory (or
Kafka topic / Iceberg streaming read — same DataFrame, different
source) and the monitor classifies each micro-batch against the
broadcast reference filter and maintains watermarked per-window
contamination counters.

Design points, mirrored from the batch path so the two share kernels:

* classification is the SAME ``classify_pages`` mapInPandas kernel —
  mapInPandas is streaming-compatible, so the hot path has exactly one
  implementation;
* the aggregation is a watermarked ``window(warc_ts)`` groupBy — late
  pages within the watermark still land in their crawl window, later
  ones are dropped (bounded state, the 100-TB requirement);
* sinks: any writeStream sink; ``run_monitor_once`` uses
  ``trigger(availableNow=True)`` to drain what exists and stop —
  which is also the deterministic shape the tests assert on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ops.contamination import classify_pages
from ..sketch import BloomFilter

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def stream_pages(spark: SparkSession, path: str, fmt: str = "parquet",
                 max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of pages.  ``max_files_per_trigger`` is the
    micro-batch size knob: 1 (default) gives per-drop batches for
    fine-grained monitoring; raise it at scale so a backlog of
    thousands of crawl files coalesces into few large batches instead
    of thousands of tiny ones.  Swap for Kafka/Iceberg by replacing
    the source — every downstream transform is source-agnostic."""
    return (spark.readStream.schema(PAGES_DDL).format(fmt)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(path))


def classify_stream(pages: DataFrame, bloom: BloomFilter,
                    text_col: str = "text",
                    tole_rate: float | None = None,
                    passthrough: tuple[str, ...] = ("url", "warc_ts",
                                                    "lang")) -> DataFrame:
    """Streaming classification — the batch kernel applied to a
    streaming DataFrame (mapInArrow is streaming-safe; the filter
    broadcasts once per executor exactly as in batch)."""
    return classify_pages(pages, bloom, text_col=text_col,
                          passthrough=passthrough, tole_rate=tole_rate)


def windowed_contamination(classified: DataFrame,
                           ts_col: str = "warc_ts",
                           window: str = "1 hour",
                           watermark: str = "2 hours",
                           by_lang: bool = True) -> DataFrame:
    """Watermarked per-window contamination counters.

    In **update/append** output mode, windows older than the watermark
    are finalized and evicted, so state is O(active windows × langs),
    independent of stream length — that is the long-lived-monitor
    configuration.  In **complete** mode Spark retains all window
    state by definition (watermarks do not evict there); use complete
    only for bounded drain-and-report runs.
    """
    keys = [F.window(F.col(ts_col), window).alias("win")]
    if by_lang:
        keys.append(F.col("lang"))
    return (classified.withWatermark(ts_col, watermark)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("total_read_count"),
                 F.sum(F.col("contaminated").cast("long"))
                  .alias("contaminated_reads"),
                 F.sum("match_time").alias("total_hits"))
            .withColumn("contamination_rate",
                        F.col("contaminated_reads")
                        / F.col("total_read_count")))


def windowed_event_counts(events: DataFrame, ts_col: str = "ts",
                          window: str = "1 day",
                          watermark: str = "2 days",
                          keys: tuple[str, ...] = ("event_type",)
                          ) -> DataFrame:
    """Watermarked per-window event counts — the generic update-mode
    monitor aggregation (``windowed_contamination`` minus the
    classifier).  ``ts_col`` must be an *instant* (TIMESTAMP_LTZ):
    watermarks are defined on event-time instants, so an NTZ crawl
    timestamp needs one ``.cast("timestamp")`` upstream.  In update
    output mode the watermark finalizes and EVICTS windows older than
    ``watermark`` — state is O(active windows × keys) no matter how
    long the stream runs, and rows arriving after their window was
    evicted are dropped (the late-data contract, asserted by
    test_stream_watermark_evicts_state and oracle-checked end-to-end
    by q38).
    """
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     *[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("n")))


def streaming_sessions(events: DataFrame, ts_col: str = "ts",
                       gap: str = "30 minutes",
                       watermark: str = "1 hour",
                       keys: tuple[str, ...] = ("user_id",)) -> DataFrame:
    """Gap-based sessionization on a STREAM — the streaming form of
    ``ops.temporal.sessionize`` via ``F.session_window``: per key, an
    event extends the current session while it arrives within ``gap``
    of the session's end; otherwise it opens a new one.  Sessions that
    straddle micro-batches are MERGED in the state store (Spark's
    session-window state merge), so batch boundaries never split a
    session.

    Run it in **append** output mode: a session row is emitted exactly
    once, when the watermark passes its close (end + gap) — the sink
    holds only finalized sessions and state is O(open sessions), no
    matter how long the stream runs.  Consequence of the append
    contract: sessions still open when the source drains stay in
    state, unemitted.  A bounded drain that must flush everything
    (tests, the q47 oracle) appends a far-future sentinel row under a
    reserved key to push the watermark past every real session — the
    standard stream-end tick; a long-lived monitor just keeps running.

    Returns one row per finalized session: the key columns,
    ``sess_start``/``sess_end`` (first/last EVENT time — note
    session_window.end includes the +gap close, so ``sess_end`` is
    ``end - gap``) and ``n_events``.
    """
    g = F.expr(f"INTERVAL {gap}")
    agg = (events.withWatermark(ts_col, watermark)
           .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                    *[F.col(k) for k in keys])
           .agg(F.count(F.lit(1)).alias("n_events")))
    return agg.select(*keys,
                      F.col("sw.start").alias("sess_start"),
                      (F.col("sw.end") - g).alias("sess_end"),
                      "n_events")


def run_monitor_once(report: DataFrame, checkpoint_dir: str,
                     query_name: str = "contamination_monitor",
                     output_mode: str = "complete"):
    """Drain everything currently in the source and stop
    (trigger availableNow) — resumable: the checkpoint directory
    carries offsets + aggregation state, so the next invocation picks
    up exactly where this one finished.

    ``output_mode``: "complete" re-emits every window each run (and
    retains all state — fine for bounded drains, wrong for a
    long-lived monitor); "update" emits only windows touched by this
    run and lets the watermark evict finalized state (the incremental
    configuration the CLI uses)."""
    q = (report.writeStream.outputMode(output_mode)
         .format("memory").queryName(query_name)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def streaming_dedup(events: DataFrame, id_cols: tuple[str, ...] = ("event_id",),
                    ts_col: str = "ts", watermark: str = "2 days") -> DataFrame:
    """Streaming exact deduplication — ``ops.dedup.exact_dedup`` for a
    stream, via ``dropDuplicatesWithinWatermark``: the first arrival
    of each key is emitted, replays of that key arriving within
    ``watermark`` of it are dropped, and the key's state is EVICTED
    once the watermark passes it — state is O(keys per watermark
    window), not O(stream length), which is what makes exact dedup
    viable on an unbounded crawl (the batch variant's hash-groupBy
    state would grow forever).  The contract is Spark's: duplicates
    separated by more than the watermark can both survive — pick the
    watermark to cover the source's actual replay horizon (e.g. a
    crawler's retry window), and run the batch ``exact_dedup`` over
    closed partitions for the historical guarantee.
    """
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(id_cols)))
