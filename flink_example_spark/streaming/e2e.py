"""The streaming training pipeline: ONE streaming query from raw events to
training examples.

The reference executes its entire graph (aggregates → versioned tables →
two temporal joins) as ONE Flink job (App.java:87 executing the graph built
in App.java:143-234). This module is the Spark counterpart, one Structured
Streaming query with one stateful operator:

    events ─► evidence ─► withWatermark(ts, 0 s)
           ─► groupByKey(user_id).transformWithState(fes.StreamFold)

``fes.StreamFold`` (``jvm/src/fes/StreamFold.java``) runs the batch
backfill's per-entity walk (``fes.EntityWalk``, the one behind
``plans.events_demo.pipeline``) as the watermark passes each entity's rows.
A row at exactly the watermark can still arrive, so the walk folds the rows
strictly before it in ``(ts, event_id)`` order, and an example comes out,
on an event-time timer, once the watermark is past its label time. So the
stream's answer is the batch's, ties included, with no lookback bound. Each
entity keeps its running sums, its pending examples and the rows the walk's
pointers have not passed: O(entities + in-flight examples) state, not
O(events).

Watermark mechanics: a micro-batch runs with the watermark of the batches
before it, and a bounded replay's data ends before the last label time.
So ``stage_replay`` appends sentinel waves of one row each, past every
real label time: wave 0 lifts the watermark past them, and the no-data
batch that Spark then runs for the timers emits the last examples. A
sentinel row is an event of entity -1 with a NULL ``event_type`` after
every label frame: it moves the watermark and counts in no walk, so
``streaming.incremental`` replays the same staging.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.jvm import stream_fold
from flink_example_spark.plans.events_demo import (
    LABEL_DELAY_HOURS,
    evidence,
    fold_input,
    fold_output,
    load_events,
)
from flink_example_spark.session import rocksdb_state_store
from flink_example_spark.streaming.staging import (
    drain_to_table,
    read_chunks,
    split_chunks,
    stamp_chunk_mtimes,
)

WAVES = 1


def run_streaming_pipeline_e2e(
    spark: SparkSession,
    sf_dir: str,
    _horizon: None = None,
    chunks: int = 1,
    waves: int = WAVES,
) -> DataFrame:
    """Bounded replay of the full flagship pipeline as ONE streaming query;
    equals batch ``plans.events_demo.pipeline`` for any ``chunks`` and any
    ``waves >= WAVES``. The third positional slot takes only ``None``."""
    if _horizon is not None:
        raise ValueError("the stream has no horizon; pass None or nothing")
    tmpdir, src_schema = stage_replay(spark, sf_dir, chunks, waves)
    try:
        final = build_pipeline_stream(read_chunks(spark, tmpdir, src_schema))
        # 4 partitions: a stateful operator pays per-partition state-store
        # cost every micro-batch.
        with rocksdb_state_store(spark):
            return drain_to_table(final, "append", partitions=4)
    finally:
        # the memory sink holds the result; the staged files are spent
        shutil.rmtree(tmpdir)


def stage_replay(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 2,
    waves: int = WAVES,
):
    """Stage the bounded replay: time-split chunk files + sentinel waves.

    Returns ``(tmpdir, src_schema)``: a fresh directory the caller removes
    once its query has drained.
    """
    src = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    # any instant will do for the sentinels' base when no row has a ts
    max_t = src.agg(F.max("ts")).first()[0] or datetime(1970, 1, 1)

    tmpdir = tempfile.mkdtemp(prefix="e2e_stream_")
    split_chunks(src, "ts", chunks, tmpdir)

    # Sentinel waves: hourly from an hour past the last label time.
    sentinel_base = max_t + timedelta(hours=LABEL_DELAY_HOURS + 1)
    for wave in range(waves):
        spark.createDataFrame(
            [(-1 - wave, -1, sentinel_base + timedelta(hours=wave), None, 0.0)],
            src.schema,
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{chunks + wave}_sentinel")
        )
    stamp_chunk_mtimes(tmpdir)
    return tmpdir, src.schema


def build_pipeline_stream(stream: DataFrame) -> DataFrame:
    """Assemble the one-operator query over a raw ``(event_id, user_id, ts,
    event_type, value)`` event stream (``ts`` must be TIMESTAMP —
    EventTimeWatermark rejects NTZ); returns the unstarted streaming
    DataFrame."""
    events = evidence(stream).withWatermark("ts", "0 seconds")
    # the watermarked ts rides along so the operator drops late rows
    folded = stream_fold(fold_input(events, "ts"), LABEL_DELAY_HOURS * 3600 * 10**6)
    return fold_output(folded)
