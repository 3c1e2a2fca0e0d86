"""Structured Streaming parity (SURVEY.md §2.7, build plan Phase 3).

Reference mapping:
- T1 zero-delay watermark (App.java:121,139)  → ``withWatermark(ts, "0 seconds")``
- A1/A2 update-mode aggregates (App.java:47,52) → streaming groupBy + update/
  complete output; the state store holds per-key running aggregates (what
  Flink emits as a changelog)
- T3/T4 changelog→versioned table (AddWatermark.java) → unnecessary: version
  history is computed directly from event time (SURVEY.md §7.1)
- J1/J2 temporal join → ``streaming/e2e.py``: ONE streaming query from the
  raw events to training examples, one ``transformWithState`` running the
  batch backfill's per-entity walk up to the watermark; it converges
  exactly to the batch result.

``stream_events`` is a file stream over the harness events parquet
(maxFilesPerTrigger simulates arrival); production would swap in a
Kafka/Kinesis source — the transformations are source-agnostic DataFrame
code. Every query here runs as a bounded replay through
``staging.drain_to_table`` (availableNow into a memory sink, 8 shuffle
partitions).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import drain_to_table


def _read_batches(spark: SparkSession, outdir: str) -> DataFrame:
    """Read foreachBatch output; the parquet files back the returned (lazy)
    DataFrame, so the caller reaps ``outdir`` only after consuming it."""
    if not any(name.startswith("batch=") for name in os.listdir(outdir)):
        raise RuntimeError(
            f"streaming sink {outdir} is empty: the source stream produced no "
            "micro-batches (empty input directory?)"
        )
    return spark.read.parquet(outdir).drop("batch")


def _staged_dir(src_file: str) -> str:
    """File-stream sources need a *directory*; stage the (read-only) harness
    parquet file into a temp dir via symlink."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(src_file, os.path.join(d, os.path.basename(src_file)))
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source event stream with the reference's zero-delay watermark.

    Timestamp ingestion goes through the SAME ``tables.normalize_ts`` helper
    as the batch loader, so both parquet layouts (int64-nanos and native µs)
    stream identically and the two ingest paths cannot diverge."""
    from flink_example_spark.tables import normalize_ts

    tune(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_dir(f"{sf_dir}/events.parquet"))
    )
    # EventTimeWatermark requires TIMESTAMP (LTZ); normalize first (shared
    # layout logic), then cast NTZ→LTZ — exact under the UTC session pin.
    normalized = normalize_ts(stream, "ts").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return normalized.withWatermark("ts", "0 seconds")


def run_streaming_features(
    spark: SparkSession, sf_dir: str, loss_type: str = "error"
) -> DataFrame:
    """Streaming A1: continuously-updating per-user loss aggregate, complete
    output mode into an in-memory table; returns the converged result.

    This is the reference's Features query (App.java:47) as a live stream —
    the state store plays the role of Flink's aggregate state, the memory
    sink the role of the changelog consumer.
    """
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == loss_type)
        .groupBy(F.col("user_id").alias("_entity"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("loss_value"))
    )
    return drain_to_table(agg, "complete")


def run_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming T6: event-time tumbling daily counts per type with the
    zero-delay watermark; complete output into a memory sink for bounded
    replay — converges to the batch tumbling_window_counts (shared oracle).
    In production this runs in update mode with the watermark expiring
    closed windows from the state store."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "event_type", "n")
    )
    return drain_to_table(agg, "complete")


def run_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming T6 sliding windows (1 day every 12 hours): each event updates
    two window states; complete output for bounded replay — converges to the
    batch sliding_window_counts (shared oracle). Production runs update mode
    with the watermark closing windows 1 day after their start."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    return drain_to_table(agg, "complete")


def run_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming T6 session windows: per-user sessions with a 30-minute
    inactivity gap — the state store MERGES adjacent session state as events
    arrive (the hard part Flink's session windows also solve); complete
    output for bounded replay, converging to the batch session_window_counts
    (shared oracle)."""

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    return drain_to_table(agg, "complete")
