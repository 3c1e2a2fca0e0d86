"""Fully-fused end-to-end streaming training pipeline — ONE streaming query.

The reference executes its entire graph (aggregates → versioned tables →
two temporal joins) as ONE Flink job (App.java:87 executing the graph built
in App.java:143-234). This module is the Spark counterpart: a SINGLE
Structured Streaming query from the raw event stream to finished training
examples, with every operator's state in the JVM state store:

    errors ──interval join [e.ts−h < q.ts ≤ e.ts+delay]──► all events
           ──GROUP BY (entity, e.ts) with conditional aggregates:
             arg-max(q.ts < e.ts)               = previous event  (W1 + P3)
             SUM(error value, q.ts ≤ e.ts)      = feature as-of   (J1)
             COUNT(purchase, q.ts ≤ e.ts+delay) = target as-of    (J2)

The as-of joins are FUSED with the version histories they probe: the latest
cumulative aggregate at probe time equals the aggregate over all deltas
at-or-before probe time, so

    asof(probe, version_history(E))  ≡  probe ⋈[t−h < e.ts ≤ t] E
                                        GROUP BY probe AGG(delta)

and since the examples, the feature and the target all aggregate the same
entity's deltas around the same probe, one band (wide enough for all three)
and one aggregation with a condition per output serve them all — no
materialized history, no Python in the loop. The trade-off vs the batch
operator is the bounded lookback ``horizon`` (exactly the feature-staleness
bound real feature stores impose); the bounded replay sets horizon to cover
the data span and therefore converges EXACTLY to batch
``training_examples``, sharing its oracle. This is the one stream replay of
the temporal join: the registry's single-as-of row
(``streaming_asof_interval``) is this query without the label-time ``cnt``
column.

Two stateful operators (1 interval join + 1 aggregation) in append mode,
with per-operator watermark propagation doing the event-time bookkeeping.

Watermark mechanics: the join's output watermark lags its input by the
lookback horizon, so the aggregation closes a probe's group once the SOURCE
watermark passes ``e_ts + horizon``. The sentinel waves therefore sit past
``max_t + horizon`` (filtered-out rows advance no operator's watermark —
DESIGN.md round-2 rule — so each wave carries an error row for the probe
side).
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
    the default ``chunks=1`` measured 13.6s vs 15.3s for 2 chunks at
    sf0.01 (warm medians of 3, 4 cores), identical result hash (pinned in
    tests/test_e2e_stream.py)."""
    tmpdir, src_schema, horizon_days, sentinel_cut = stage_replay(
        spark, sf_dir, horizon_days, chunks, waves
    )
    stream = read_chunks(spark, tmpdir, src_schema)
    final = build_pipeline_stream(stream, horizon_days, label_delay_hours)

    # 4 partitions: each stateful operator pays per-partition state-store
    # overhead EVERY micro-batch; measured 20.7/13.6/11.9s at 8/4/2
    # partitions (chunks=1, sf0.01, warm medians of 3, 4 cores) with
    # IDENTICAL result hashes — 4 keeps parallelism headroom for larger SFs
    # while shedding most of the overhead
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

    # Sentinel waves: past max_t + horizon (the join's watermark lag), 6h
    # apart. Each wave carries one error + one purchase row for entity -1,
    # so both watermarked sides (errors, all events) advance every wave.
    # Wave 0 lifts the source watermark past max_t + horizon; wave 1's batch
    # runs with that watermark, so the join's output watermark passes every
    # real probe and the aggregate emits them all in that batch. Two waves
    # therefore suffice; ``waves`` defaults to 3, one spare.
    sentinel_base = max_t + timedelta(days=horizon_days + 1)
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
    """Assemble the two-operator query over a raw ``(user_id, ts, event_type,
    value)`` event stream (``ts`` must be TIMESTAMP — EventTimeWatermark
    rejects NTZ); returns the unstarted streaming DataFrame."""
    delay = f"INTERVAL {label_delay_hours} HOURS"
    # Probes are the error events (only they can be examples); the band side
    # is every event, since "previous row" ranges over all event types.
    cur = (
        stream.filter(F.col("event_type") == LOSS)
        .select(F.col("user_id").alias("e_entity"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "0 seconds")
    )
    band = stream.select(
        F.col("user_id").alias("q_entity"),
        F.col("ts").alias("q_ts"),
        F.col("event_type").alias("q_type"),
        F.col("value").cast("decimal(18,2)").alias("q_value"),
    ).withWatermark("q_ts", "0 seconds")
    joined = cur.join(
        band,
        F.expr(
            f"e_entity = q_entity AND q_ts > e_ts - INTERVAL {horizon_days} DAYS "
            f"AND q_ts <= e_ts + {delay}"
        ),
        "inner",
    )
    q_ts, e_ts = F.col("q_ts"), F.col("e_ts")
    is_loss = F.col("q_type") == LOSS
    # k error rows tied at (e_entity, e_ts) are k probe copies: every band
    # row joins each copy, and the tie matches itself k·k times, so SUM and
    # COUNT are divided by k = sqrt(that self-match count).
    agg = joined.groupBy("e_entity", "e_ts").agg(
        # arg-max by q_ts = the previous row; q_ts enters the aggregate as a
        # plain double so the agg sees exactly ONE event-time column (e_ts).
        F.max(
            F.when(
                q_ts < e_ts,
                F.struct(q_ts.cast("double").alias("o"), F.col("q_type").alias("t")),
            )
        ).alias("__prev"),
        F.sum(F.when(is_loss & (q_ts <= e_ts), F.col("q_value"))).alias("__loss"),
        F.count(F.when(F.col("q_type") == TARGET, 1)).alias("__c"),
        F.sqrt(F.count(F.when(is_loss & (q_ts == e_ts), 1))).cast("long").alias("__k"),
    )
    return agg.filter(F.col("__prev.t") == LOSS).select(
        F.col("e_entity").alias("_entity"),
        F.col("e_ts").alias("_prediction_time"),
        F.expr(f"e_ts + {delay}").alias("_label_time"),
        (F.col("__loss") / F.col("__k")).cast("double").alias("loss_value"),
        # LEFT as-of with no prior version is NULL, not 0
        F.when(F.col("__c") > 0, F.expr("__c div __k")).alias("cnt"),
    )
