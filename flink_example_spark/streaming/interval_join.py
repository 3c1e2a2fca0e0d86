"""Watermarked stream-stream interval join.

The batch range join (``range_join_prior_errors``) counts errors in the hour
before each purchase. This module runs the same relation as a genuine
STREAM-STREAM join: both sides are live streams, the time-band predicate
bounds join state on both sides (Spark evicts a buffered row once the
opposite stream's watermark guarantees no more matches), and LEFT OUTER
semantics emit the null-padded row for match-less purchases only when the
watermark passes their join window.

This is the Spark-native analog of Flink's interval join — and unlike the
foreachBatch/stream-static replays (e.g. cdc_stream's attribution), state
for BOTH inputs lives in the state store with watermark-driven cleanup, so
the join runs unbounded with O(window) state per key.

Bounded-replay mechanics (availableNow): the global watermark is the MIN
across both inputs and advances at batch boundaries, so the staged stream
appends two sentinel waves carrying one row of EACH side's event type —
wave 1 lifts the watermark past all real data, wave 2 flushes rows parked
at exactly the max event time (strict < gate). Sentinels are filtered from
the result by timestamp.
"""

from __future__ import annotations

import os
import tempfile
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import (
    drain_to_table,
    read_chunks,
    split_chunks,
    stamp_chunk_mtimes,
)

PURCHASE, ERROR = "purchase", "error"


def interval_join_counts(joined_rows: DataFrame) -> DataFrame:
    """Fold emitted (purchase, matched-error) rows to the batch relation:
    one row per purchase with its prior-error count (0 for null-padded)."""
    return joined_rows.groupBy(F.col("p_event_id").alias("event_id")).agg(
        F.count("e_event_id").alias("n_prior_errors")
    )


def run_streaming_interval_join(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Bounded replay of the events table through a left-outer stream-stream
    interval join (errors within the hour before each purchase); returns the
    per-purchase prior-error counts — converges exactly to the batch
    ``range_join_prior_errors`` relation (shared oracle)."""
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    relevant = ev.filter(F.col("event_type").isin(PURCHASE, ERROR))
    lo_t, max_t = relevant.agg(F.min("ts"), F.max("ts")).first()
    sentinel_cut = max_t + timedelta(hours=5)

    tmpdir = tempfile.mkdtemp(prefix="interval_join_")
    split_chunks(relevant, "ts", chunks, tmpdir)
    # sentinel waves: one row of EACH type so both filtered streams' own
    # watermark operators see them (filtered-out rows don't advance a wm)
    for wave, hours in ((8, 5), (9, 10)):
        wave_rows = spark.createDataFrame(
            [(-1, -1, PURCHASE), (-2, -1, ERROR)], ["event_id", "user_id", "event_type"]
        ).select(
            "event_id",
            "user_id",
            "event_type",
            (F.lit(max_t) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
        )
        wave_rows.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{wave}_sentinel")
        )
    # arrival order = chunk index via explicit mtimes (not write timing)
    stamp_chunk_mtimes(tmpdir)

    def side(prefix: str, etype: str) -> DataFrame:
        return (
            read_chunks(spark, tmpdir, relevant.schema)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "0 seconds")
        )

    p, e = side("p", PURCHASE), side("e", ERROR)
    joined = p.join(
        e,
        F.expr(
            "p_user_id = e_user_id AND e_ts > p_ts - INTERVAL 1 HOUR AND e_ts <= p_ts"
        ),
        "leftOuter",
    )
    rows = drain_to_table(joined, "append").filter(F.col("p_ts") < F.lit(sentinel_cut))
    return interval_join_counts(rows)
