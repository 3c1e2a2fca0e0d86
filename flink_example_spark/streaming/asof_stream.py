"""Fully-JVM stream-stream as-of join via chained stateful operators.

The stream-stream as-of (this module, and the same device inside
``streaming/e2e.py``) keeps no Python state: a per-key Python processor
would pickle every key's state each micro-batch, and the JVM-state
``transformWithState`` port needs google.protobuf. Instead the backward
as-of is expressed as TWO built-in stateful operators chained in append
mode (supported since Spark 3.5 / first-class in Spark 4):

1. a watermarked stream-stream LEFT OUTER interval join — versions buffer in
   the JVM state store and are evicted once the probe watermark passes the
   lookback ``horizon``;
2. a downstream event-time-windowed aggregation taking the LATEST version
   per probe (arg-max over the version timestamp) — emitted when the
   watermark closes the probe's window.

State for both operators lives entirely in the JVM state store — no Python
in the loop, no pickling. The trade-off vs a true as-of is the bounded
lookback: a probe only sees versions at most ``horizon`` old (exactly the
feature-staleness bound real feature stores impose). With ``horizon``
covering the replay's data span the result converges EXACTLY to the batch
``asof_join(examples, feature_history)`` relation and shares its oracle.

Reference analog: App.java:200-233 temporal join; AddWatermark.java runs its
state in the JVM too — this variant restores that property under Spark.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import shuffle_partitions, tune
from flink_example_spark.streaming.staging import stamp_chunk_mtimes

PROBE, VERSION = "p", "v"


def run_streaming_asof_interval(
    spark: SparkSession,
    sf_dir: str,
    horizon_days: int | None = None,
    chunks: int = 2,
) -> DataFrame:
    """Bounded replay of the flagship single as-of (examples x feature
    history) through the chained join+agg plan; converges exactly to the
    batch backward as-of when ``horizon_days`` covers the data span
    (default: computed from the span — production sets it from the feature
    staleness SLA instead).

    Watermark mechanics: an OUTER interval join's output watermark lags the
    input watermark by the lookback horizon (a version can still match
    probes up to ``horizon`` later), so the downstream aggregation only
    finalizes a probe once the source watermark passes p_ts + horizon — the
    sentinel waves therefore sit past ``max_t + horizon``, not just past
    ``max_t``."""
    from flink_example_spark.plans.events_demo import (
        examples,
        feature_history,
        load_events,
    )

    tune(spark)
    ev = load_events(spark, sf_dir)
    fh = feature_history(ev)  # (_entity, _change_time, loss_value)
    ex = examples(ev)  # (_entity, _prediction_time, _label_time)

    # one tagged staging relation so both sides replay from one file stream
    tagged = ex.select(
        F.lit(PROBE).alias("side"),
        F.col("_entity").alias("entity"),
        F.col("_prediction_time").cast("timestamp").alias("ts"),
        F.col("_label_time").cast("timestamp").alias("label_time"),
        F.lit(None).cast("double").alias("value"),
    ).unionByName(
        fh.select(
            F.lit(VERSION).alias("side"),
            F.col("_entity").alias("entity"),
            F.col("_change_time").cast("timestamp").alias("ts"),
            F.lit(None).cast("timestamp").alias("label_time"),
            F.col("loss_value").alias("value"),
        )
    )
    min_t, max_t = tagged.agg(F.min("ts"), F.max("ts")).first()
    if horizon_days is None:
        horizon_days = (max_t - min_t).days + 2  # staleness cannot exceed the span
    sentinel_cut = max_t + timedelta(hours=4)

    tmpdir = tempfile.mkdtemp(prefix="asof_stream_")
    cuts = (
        tagged.agg(
            F.percentile_approx(
                F.col("ts").cast("double"), [i / chunks for i in range(1, chunks)], 10000
            )
        ).first()[0]
        if chunks > 1
        else []
    )
    bounds = [None, *cuts, None]
    for i in range(chunks):
        part = tagged
        if bounds[i] is not None:
            part = part.filter(F.col("ts").cast("double") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.col("ts").cast("double") < bounds[i + 1])
        part.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmpdir, f"chunk_{i}"))
    # three sentinel waves PAST max_t + horizon: the watermark must cross TWO
    # stateful operators and each wave advances it one batch — wave 1 lifts
    # the source wm past p_ts + horizon for every real probe, wave 2 flushes
    # the join (its output wm now clears the data), wave 3 closes the agg
    # groups for the rows wave 2 released.
    h0 = horizon_days * 24
    for wave, hours in ((8, h0 + 5), (9, h0 + 10), (10, h0 + 15)):
        spark.createDataFrame(
            [(PROBE, -1, None), (VERSION, -2, 0.0)],
            "side string, entity long, value double",
        ).select(
            "side",
            "entity",
            (F.lit(max_t) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
            (F.lit(max_t) + F.expr(f"INTERVAL {hours + 1} HOURS")).alias("label_time"),
            "value",
        ).select("side", "entity", "ts", "label_time", "value").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmpdir, f"chunk_{wave}_sentinel"))
    stamp_chunk_mtimes(tmpdir)

    src_schema = tagged.schema
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(tmpdir, "chunk_*"))
    )
    probes = (
        stream.filter(F.col("side") == PROBE)
        .select(
            F.col("entity").alias("p_entity"),
            F.col("ts").alias("p_ts"),
            F.col("label_time").alias("p_label"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    versions = (
        stream.filter(F.col("side") == VERSION)
        .select(
            F.col("entity").alias("v_entity"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("v_value"),
        )
        .withWatermark("v_ts", "0 seconds")
    )
    joined = probes.join(
        versions,
        F.expr(
            "p_entity = v_entity AND v_ts <= p_ts "
            f"AND v_ts > p_ts - INTERVAL {horizon_days} DAYS"
        ),
        "leftOuter",
    )
    # chained stateful op 2: latest version per probe — grouping directly on
    # the watermarked probe timestamp (no window()), emitted when the
    # watermark passes it.
    latest = (
        joined.groupBy("p_entity", "p_ts", "p_label").agg(
            F.max(F.struct("v_ts", "v_value")).alias("__mx")
        )
    ).select(
        F.col("p_entity").alias("_entity"),
        F.col("p_ts").alias("_prediction_time"),
        F.col("p_label").alias("_label_time"),
        F.col("__mx.v_value").alias("loss_value"),
    )
    name = f"asof_interval_{uuid.uuid4().hex[:8]}"
    with shuffle_partitions(spark, 8):
        q = (
            latest.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).filter(F.col("_prediction_time") < F.lit(sentinel_cut))
