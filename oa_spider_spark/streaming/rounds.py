"""Streaming crawl: the reference's 20-minute cron cadence
(`README_OLD.md:36-42`) becomes a Structured Streaming query over the
frontier's append directory — each micro-batch is one "round", processed
by the batch engine's own `run_round` via `foreachBatch` (exactly-once:
an epoch already in the commit log is skipped on replay).

`Trigger.AvailableNow` drains everything pending then stops — the
streaming twin of "run one cron round now". A long-running deployment
drops the trigger and lets micro-batches flow.

`host_rate_metrics` is the watermarked politeness monitor: fetches per
host per 10-second window, tolerating 30 s of event-time lateness.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_HOST_BUDGET
from ..frontier.round import FRONTIER_DDL, run_round
from ..tables import Catalog


def frontier_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory receiving frontier parquet
    appends (in production: Kafka topic of discovered URLs).

    `max_files_per_trigger` defaults to UNSET: an AvailableNow drain then
    takes everything pending as ONE micro-batch, amortizing the per-epoch
    fixed cost (selection windows, derived-append write jobs, commit —
    measured ~3.5 s/epoch regardless of batch size, the whole r04
    streaming-vs-batch gap). A long-running low-latency deployment sets
    it to bound per-batch work instead."""
    reader = spark.readStream.schema(FRONTIER_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(in_dir)


def streaming_crawl(
    spark: SparkSession,
    catalog: Catalog,
    in_dir: str,
    checkpoint_dir: str,
    *,
    n_hosts: int = 20,
    default_budget: int = DEFAULT_HOST_BUDGET,
    available_now: bool = True,
    max_depth: int = 2,
    links_out_dir: str | None = None,
    seen_index_min: int | None = None,
    epoch_log: list | None = None,
    max_files_per_trigger: int | None = None,
    partitions: int | None = None,
):
    """Run the crawl as a streaming query; returns the StreamingQuery.

    Each micro-batch is one `run_round` over the batch as its frontier,
    under round_id = 10_000 + epoch (offset to never collide with
    batch-mode rounds in the same catalog): same selection, fetch,
    staging, derived appends, Bloom policy and commit as the batch
    engine. The drain adds only what a micro-batch needs: candidates
    over budget are re-queued to the catalog frontier as backlog, and
    when `links_out_dir` points inside the stream's input glob the
    extracted links are ALSO written there — the self-feeding shape of
    a production crawl stream (discovered URLs go back onto the topic),
    so the next drain crawls one hop deeper. The per-epoch link
    directory is written once via a hidden staging dir + atomic rename
    and left untouched on replay, so a crash between the link write and
    the commit duplicates nothing, loses nothing, and never deletes
    files a restarted source already listed."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        wall0 = time.perf_counter()
        round_id = 10_000 + int(epoch_id)
        if round_id in catalog.committed_rounds():
            return  # replay after failure: already committed, skip (exactly-once)
        if batch_df.isEmpty():
            return
        phases = {"empty_check": round(time.perf_counter() - wall0, 3)}
        run_round(
            batch_df.sparkSession, catalog, round_id, frontier=batch_df,
            n_hosts=n_hosts, default_budget=default_budget, max_depth=max_depth,
            seen_index_min=seen_index_min, partitions=partitions,
            links_out_dir=links_out_dir, timings=phases,
        )
        if epoch_log is not None:
            phases["epoch_wall"] = round(time.perf_counter() - wall0, 3)
            epoch_log.append({"epoch": int(epoch_id), **phases})

    writer = (
        frontier_stream(spark, in_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_rate_metrics(stream: DataFrame) -> DataFrame:
    """Watermarked per-host fetch-rate windows (politeness monitoring):
    event time = created_ms, 10 s tumbling windows, 30 s late tolerance."""
    with_ts = stream.withColumn("event_ts", F.timestamp_millis(F.col("created_ms")))
    return (
        with_ts.withWatermark("event_ts", "30 seconds")
        .groupBy(F.window("event_ts", "10 seconds"), "host")
        .agg(F.count("*").alias("n_urls"), F.approx_count_distinct("url_hash").alias("n_distinct"))
    )
