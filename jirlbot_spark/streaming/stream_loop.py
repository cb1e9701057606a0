"""Structured Streaming surface for the crawl engine.

The reference is a continuous pipeline with its own state (DRUM) and no
event-time semantics, so the batch microbatch loop is primary (SURVEY.md
§2.2: deterministic + resumable). This wrapper exists for deployments that
want Spark's streaming runtime to own scheduling/trigger/checkpointing:

  - seed/link ingestion as a rate- or file-source stream
  - foreachBatch drives EXACTLY the same CrawlLoop.run_batch dataflow, so
    streaming and batch mode share one implementation (and one test suite)
  - politeness is a processing-time constraint (per-host schedule column),
    not event time — no watermark is needed because no event-time
    aggregation exists in the reference semantics
  - stateful URL-seen membership stays in the TableStore (bucket-partitioned
    runs), NOT in streaming state: 10^10 keys exceed any state-store budget,
    and the anti-join plan is identical either way

Also provided: a watermarked sliding-window metrics stream over fetch
events (pages/s, bytes/s per window) — the one genuinely event-time-shaped
computation in the system, used for monitoring parity with the reference's
console stats thread.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jirlbot_spark.plans.loop import CrawlLoop


def stream_crawl(
    spark: SparkSession,
    loop: CrawlLoop,
    seeds_stream: DataFrame,
    checkpoint_dir: str,
    max_batches: int | None = None,
    passes_per_trigger: int = 1,
    max_urls_per_pass: int | None = None,
):
    """Drive the crawl loop from a streaming seed source via foreachBatch.

    `seeds_stream` is any streaming DataFrame with a `url` column; each
    trigger ingests new seeds then advances the crawl `passes_per_trigger`
    passes (the first pass after a cold start only requests robots — hosts
    are fetchable from the second pass on, mirroring batch mode). Returns
    the StreamingQuery (caller awaits/stops it).

    Backpressure: `max_urls_per_pass` is the frontier-source analog of a
    Kafka source's maxOffsetsPerTrigger: each pass admits at most that
    many frontier candidates (scalable per-bucket top-k; see
    CrawlConfig.max_urls_per_batch) and a seed/link burst drains over
    several triggers instead of inflating one. The loop adopts a COPY of
    its config with the cap applied — the caller's CrawlConfig object is
    never mutated, but the loop keeps the capped config for its
    lifetime (streaming hands the loop to this query; reuse it
    elsewhere by constructing a new CrawlLoop or reassigning loop.cfg).
    Rate-limit the SEED side with the source's own knobs (`rate` source
    rowsPerSecond, file source maxFilesPerTrigger) — foreachBatch
    inherits them for free.
    """
    if max_urls_per_pass is not None:
        import dataclasses

        loop.cfg = dataclasses.replace(
            loop.cfg, max_urls_per_batch=max_urls_per_pass
        )
    state = {"batches": 0}

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.head(1):
            # seed ingest commits under the next batch id
            loop._ingest(batch_df, loop.store.last_batch() + 1)
        loop.run(passes_per_trigger)
        state["batches"] += passes_per_trigger
        if max_batches and state["batches"] >= max_batches:
            for q in spark.streams.active:
                if q.name == "jirlbot-crawl":
                    q.stop()

    return (
        seeds_stream.writeStream.queryName("jirlbot-crawl")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(process)
        .start()
    )


def metrics_stream(
    fetch_events: DataFrame,
    window: str = "10 seconds",
    slide: str = "5 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked sliding-window crawl-rate metrics over a streaming
    fetch-event source (ts timestamp, host string, bytes long): pages/s and
    bytes/s per window + per-host distinctness. Late events beyond the
    watermark are dropped — monitoring tolerates that; the crawl state
    tables never depend on this path."""
    return (
        fetch_events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(
            F.count("*").alias("pages"),
            F.sum("bytes").alias("bytes"),
            F.approx_count_distinct("host").alias("hosts"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "pages",
            "bytes",
            "hosts",
        )
    )
