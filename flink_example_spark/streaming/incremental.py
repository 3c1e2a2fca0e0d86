"""Incremental version-history maintenance over an event stream.

The batch operator (operators/versioned.py) computes a versioned table as a
cumulative event-time window. This module maintains the SAME relation
incrementally as events arrive — the streaming feature-cache population the
reference describes (App.java:45-46: "populate a cache of features ... as
new events arrive"), done watermark-correctly, on the stream processor of
``streaming.e2e``:

    events ─► evidence ─► withWatermark(ts, 0 s)
           ─► filter (event_type, above the watermark)
           ─► groupByKey(user_id).transformWithState(fes.StreamFold, fes.HistoryWalk)

``fes.HistoryWalk`` (``jvm/src/fes/HistoryWalk.java``) keeps each entity's
unfolded rows. Once the watermark is past a row's time, an event-time timer
folds every row at or before it into the entity's running sum in time order
and emits one version row ``(key, _change_time, value)`` per distinct event
time (ties collapse, matching the batch RANGE frame). The sum is an exact
DECIMAL(18,2) sum, emitted as double, so the stream CONVERGES to
``version_history`` exactly, row for row. State per key is the sum and the
rows the watermark has not passed, not the history.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.jvm import history_fold
from flink_example_spark.plans.events_demo import LOSS_TYPE, TARGET_TYPE, evidence
from flink_example_spark.session import rocksdb_state_store
from flink_example_spark.streaming.e2e import stage_replay
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def build_history_stream(stream: DataFrame, agg: str) -> DataFrame:
    """The unstarted version-history query over a raw ``(event_id, user_id,
    ts, event_type, value)`` event stream (``ts`` TIMESTAMP). ``agg``:
    'sum' (the running sum of the error values, ``loss_value`` DOUBLE, as
    ``feature_history``) or 'count' (the running purchase count, ``cnt``
    BIGINT, as ``target_history``); a count is the sum of the value 1."""
    if agg not in ("sum", "count"):
        raise ValueError(f"unknown agg {agg!r}")
    etype, value, out = (
        (LOSS_TYPE, "value", "CAST(sum AS DOUBLE) AS loss_value")
        if agg == "sum"
        else (TARGET_TYPE, "1", "CAST(sum AS BIGINT) AS cnt")
    )
    events = evidence(stream).withWatermark("ts", "0 seconds")
    # The rows of the folded type, by a test on the watermarked ts: Spark
    # pushes a filter that does not read it below the watermark, and the
    # sentinel, of no type, would then not move the watermark.
    events = events.filter(F.when(F.col("event_type") == etype, F.col("ts")).isNotNull())
    # the watermarked ts rides along so the operator drops late rows
    folded = history_fold(
        events.selectExpr(
            "user_id",
            "unix_micros(ts) AS micros",
            f"CAST({value} AS DECIMAL(18,2)) AS value",
            "ts",
        )
    )
    return folded.selectExpr(
        "user_id AS _entity", "timestamp_micros(ts) AS _change_time", out
    )


def run_incremental_feature_history(
    spark: SparkSession, sf_dir: str, chunks: int = 3, agg: str = "sum"
) -> DataFrame:
    """Bounded replay of the harness event stream through
    ``build_history_stream``; converges exactly to the batch
    ``feature_history`` (sum) / ``target_history`` (count) relation.

    The replay is ``streaming.e2e``'s: time-ordered chunk files, then its
    sentinel wave, which lifts the watermark past every real event and
    counts in neither history (its ``event_type`` is NULL)."""
    tmpdir, src_schema = stage_replay(spark, sf_dir, chunks)
    try:
        hist = build_history_stream(read_chunks(spark, tmpdir, src_schema), agg)
        with rocksdb_state_store(spark):
            return drain_to_table(hist, "append", partitions=4)
    finally:
        shutil.rmtree(tmpdir)
