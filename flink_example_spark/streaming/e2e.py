"""Fully-fused end-to-end streaming training pipeline — ONE streaming query.

The reference executes its entire graph (aggregates → versioned tables →
two temporal joins) as ONE Flink job (App.java:87 executing the graph built
in App.java:143-234). This module is the Spark counterpart: a SINGLE
Structured Streaming query from the raw event stream to finished training
examples, with every operator's state in the JVM state store:

    raw events ──self interval join──► arg-max agg   = examples   (W1 + P3)
      examples ──interval join (errors)──► decimal-SUM agg        (J1 as-of)
       + loss  ──interval join (purchases)──► COUNT agg           (J2 as-of)

The as-of joins are FUSED with the version histories they probe: the latest
cumulative aggregate at probe time equals the aggregate over all deltas
at-or-before probe time, so

    asof(probe, version_history(E))  ≡  probe ⋈[t−h < e.ts ≤ t] E
                                        GROUP BY probe AGG(delta)

— one interval join + one aggregation per as-of, no materialized history,
no Python in the loop. The trade-off vs the batch operator is the bounded
lookback ``horizon`` (exactly the feature-staleness bound real feature
stores impose); the bounded replay sets horizon to cover the data span and
therefore converges EXACTLY to batch ``training_examples``, sharing its
oracle. This is the one stream replay of the temporal join: the registry's
single-as-of row (``streaming_asof_interval``) is this query without the
label-time ``cnt`` column.

Six chained stateful operators (3 interval joins + 3 aggregations) in
append mode — the multiple-stateful-operator support added in Spark 3.5,
with per-operator watermark propagation doing the event-time bookkeeping.

Watermark mechanics: each outer/interval join's output watermark lags its
input by the lookback horizon, so after three joins the final aggregation
only closes a probe's group once the SOURCE watermark passes
``p_ts + 3·horizon``. The sentinel waves therefore sit past
``max_t + 3·horizon`` and are spaced within one horizon of each other so
every wave flows through the example self-join (filtered-out rows advance
no operator's watermark — DESIGN.md round-2 rule).
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

LOSS, TARGET = "error", "purchase"


def run_streaming_pipeline_e2e(
    spark: SparkSession,
    sf_dir: str,
    horizon_days: int | None = None,
    chunks: int = 1,
    label_delay_hours: int = 1,
    waves: int = 3,
) -> DataFrame:
    """Bounded replay of the full flagship pipeline as ONE streaming query;
    converges exactly to batch ``plans.events_demo.pipeline`` when
    ``horizon_days`` covers the data span (production sets it from the
    feature-staleness SLA instead).

    Convergence is chunk/wave-count-invariant (each micro-batch costs the
    full state-store overhead, so fewer chunks = fewer batches = faster):
    the default ``chunks=1`` measured ~32s vs ~45-55s for 2 chunks at
    sf0.01, identical result hash (pinned in tests/test_e2e_stream.py)."""
    tmpdir, src_schema, horizon_days, sentinel_cut = stage_replay(
        spark, sf_dir, horizon_days, chunks, waves
    )
    stream = read_chunks(spark, tmpdir, src_schema)
    final = build_pipeline_stream(stream, horizon_days, label_delay_hours)

    # 4 partitions: the 6-operator stateful chain pays per-partition
    # state-store overhead EVERY micro-batch; measured 49.5/33.7/31.3s at
    # 8/4/2 partitions (chunks=1, sf0.01) with IDENTICAL result hashes —
    # 4 keeps parallelism headroom for larger SFs while shedding most of
    # the overhead
    return strip_sentinels(
        drain_to_table(final, "append", partitions=4), sentinel_cut
    )


def strip_sentinels(result: DataFrame, sentinel_cut) -> DataFrame:
    """Drop sentinel-entity rows and normalize timestamps back to NTZ."""
    return result.filter(
        (F.col("_entity") >= 0) & (F.col("_prediction_time") < F.lit(sentinel_cut))
    ).select(
        "_entity",
        F.col("_prediction_time").cast("timestamp_ntz").alias("_prediction_time"),
        F.col("_label_time").cast("timestamp_ntz").alias("_label_time"),
        "loss_value",
        "cnt",
    )


def stage_replay(
    spark: SparkSession,
    sf_dir: str,
    horizon_days: int | None = None,
    chunks: int = 2,
    waves: int = 3,
    tmpdir: str | None = None,
    skip_chunks: int = 0,
    skip_waves: int = 0,
):
    """Stage the bounded replay: time-split chunk files + sentinel waves.

    Returns ``(tmpdir, src_schema, horizon_days, sentinel_cut)``.
    ``skip_chunks`` (0 or ``chunks``) and ``skip_waves`` let a caller stage
    the replay in PARTS into the same ``tmpdir`` (checkpoint-recovery tests
    run the query, stage more files, and restart it from the same
    checkpoint — the file source picks up the new files and the state store
    carries on).
    """
    from flink_example_spark.plans.events_demo import load_events

    tune(spark)
    src = load_events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    min_t, max_t = src.agg(F.min("ts"), F.max("ts")).first()
    if horizon_days is None:
        horizon_days = (max_t - min_t).days + 2

    tmpdir = tmpdir or tempfile.mkdtemp(prefix="e2e_stream_")
    if skip_chunks == 0:
        split_chunks(src, "ts", chunks, tmpdir)
    elif skip_chunks != chunks:
        raise ValueError("skip_chunks must be 0 (stage every chunk) or chunks (none)")

    # Sentinel waves: past max_t + 3·horizon (the full chain's watermark
    # lag), spaced 6h apart (within one horizon of each other, so wave w's
    # error sentinel HAS a prior event and the example self-join emits a row
    # that walks the whole chain). Each wave carries one error + one
    # purchase row for entity -1, so every watermarked branch (any-event ×2,
    # errors, purchases) advances every wave. 3 waves suffice: wave 1 lifts
    # the source watermark past max_t + 3·horizon, wave 2's batch runs with
    # that watermark and flushes every real probe through the chain (value-
    # based watermark propagation crosses all six operators within one
    # batch), wave 3 closes the groups wave 2 released. Waves 2+ also flow
    # end-to-end themselves (wave w-1 is wave w's in-horizon prior event).
    sentinel_base = max_t + timedelta(days=3 * horizon_days + 1)
    sentinel_cut = max_t + timedelta(hours=1, minutes=30)  # > any real label time
    for wave in range(skip_waves, waves):
        wts = sentinel_base + timedelta(hours=6 * wave)
        spark.createDataFrame(
            [(-1, wts, LOSS, 0.0), (-1, wts + timedelta(minutes=1), TARGET, 0.0)],
            src.schema,
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{chunks + wave}_sentinel")
        )
    stamp_chunk_mtimes(tmpdir)
    return tmpdir, src.schema, horizon_days, sentinel_cut


def build_pipeline_stream(
    stream: DataFrame, horizon_days: int, label_delay_hours: int = 1
) -> DataFrame:
    """Assemble the six-operator chain over a raw ``(user_id, ts, event_type,
    value)`` event stream (``ts`` must be TIMESTAMP — EventTimeWatermark
    rejects NTZ); returns the unstarted streaming DataFrame."""
    h = f"INTERVAL {horizon_days} DAYS"

    # --- stage 1: examples = self interval join + arg-max agg (W1+P3) ------
    # The current-event side only ever emits on LOSS rows (the post-agg
    # filter), so push that filter to the source: the join buffers and the
    # agg groups only error events. The prior side must stay all-events —
    # "previous row" ranges over every event type.
    cur = (
        stream.filter(F.col("event_type") == LOSS)
        .select(
            F.col("user_id").alias("e_entity"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "0 seconds")
    )
    pri = stream.select(
        F.col("user_id").alias("q_entity"),
        F.col("ts").alias("q_ts"),
        F.col("event_type").alias("q_type"),
    ).withWatermark("q_ts", "0 seconds")
    j_ex = cur.join(
        pri,
        F.expr(f"e_entity = q_entity AND q_ts < e_ts AND q_ts > e_ts - {h}"),
        "inner",
    )
    # arg-max by q_ts = the previous row; q_ts enters the aggregate as a
    # plain double so the agg sees exactly ONE event-time column (e_ts).
    prev = (
        j_ex.groupBy("e_entity", "e_ts")
        .agg(
            F.max(
                F.struct(F.col("q_ts").cast("double").alias("o"), F.col("q_type").alias("t"))
            ).alias("__prev")
        )
    )
    examples = prev.filter(F.col("__prev.t") == LOSS).select(
        F.col("e_entity").alias("p_entity"),
        F.col("e_ts").alias("p_ts"),
        F.expr(f"e_ts + INTERVAL {label_delay_hours} HOURS").alias("p_label"),
    )

    # --- stage 2: as-of @ prediction time, fused with the feature history --
    errs = stream.filter(F.col("event_type") == LOSS).select(
        F.col("user_id").alias("v_entity"),
        F.col("ts").alias("v_ts"),
        F.col("value").alias("v_value"),
    ).withWatermark("v_ts", "0 seconds")
    j1 = examples.join(
        errs,
        F.expr(f"p_entity = v_entity AND v_ts <= p_ts AND v_ts > p_ts - {h}"),
        "leftOuter",
    )
    with_loss = j1.groupBy("p_entity", "p_ts", "p_label").agg(
        F.sum(F.col("v_value").cast("decimal(18,2)")).cast("double").alias("loss_value")
    )

    # --- stage 3: as-of @ label time, fused with the target history --------
    purch = stream.filter(F.col("event_type") == TARGET).select(
        F.col("user_id").alias("w_entity"),
        F.col("ts").alias("w_ts"),
    ).withWatermark("w_ts", "0 seconds")
    j2 = with_loss.join(
        purch,
        F.expr(
            f"p_entity = w_entity AND w_ts <= p_ts + INTERVAL {label_delay_hours} HOURS "
            f"AND w_ts > p_ts - {h}"
        ),
        "leftOuter",
    )
    final = (
        j2.groupBy("p_entity", "p_ts", "p_label", "loss_value")
        .agg(F.count("w_entity").alias("__c"))
        .select(
            F.col("p_entity").alias("_entity"),
            F.col("p_ts").alias("_prediction_time"),
            F.col("p_label").alias("_label_time"),
            "loss_value",
            # LEFT as-of with no prior version is NULL, not 0
            F.when(F.col("__c") > 0, F.col("__c")).alias("cnt"),
        )
    )
    return final
