"""Late-data SIDE OUTPUT — Flink's `sideOutputLateData` under Spark's
micro-batch model (T5 parity, the piece watermark-dropping alone doesn't
give you: the late rows themselves, routed to their own sink for repair
or audit instead of silently discarded).

Spark's watermark filter drops late rows inside stateful operators; a
side output therefore classifies EXPLICITLY: per micro-batch, a row is
late iff its event time precedes the watermark carried over from prior
batches (running max event time − delay, zero-delay default — the
reference's own watermark policy). foreachBatch processes batches
sequentially, so the running max in the closure is deterministic given
arrival order; staging chunks by ``event_id % chunks`` makes every chunk
span the full time range, so later chunks genuinely contain late data
(the interleaved-arrival regime, exactly what the mod split simulates).

All time math in integer micros (DESIGN.md rule); the classification is
reproduced verbatim by the DuckDB oracle from the same mod-chunk rule.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import (
    drain,
    drain_to_table,
    read_chunks,
    stamp_chunk_mtimes,
)


def _stage_mod_chunks(spark: SparkSession, sf_dir: str, chunks: int) -> tuple[str, object]:
    """Stage events as ``event_id % chunks`` files: interleaved arrival,
    each chunk spanning the full event-time range."""
    from flink_example_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_late_")
    for i in range(chunks):
        ev.filter(F.col("event_id") % chunks == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmpdir, f"chunk_{i}"))
    stamp_chunk_mtimes(tmpdir)
    return tmpdir, ev.schema


def run_streaming_late_split(
    spark: SparkSession, sf_dir: str, chunks: int = 3, delay_us: int = 0
) -> DataFrame:
    """Bounded replay of the interleaved event stream; returns the LATE
    side output ``(event_id, lateness_us)`` — rows older than the
    watermark established by earlier micro-batches. Batch oracle mirrors
    the mod-chunk staging rule exactly."""
    tune(spark)
    tmpdir, schema = _stage_mod_chunks(spark, sf_dir, chunks)
    stream = read_chunks(spark, tmpdir, schema)
    outdir = tempfile.mkdtemp(prefix="stream_late_out_")
    state = {"wm_us": None}  # foreachBatch runs sequentially on the driver

    def handle(batch: DataFrame, batch_id: int) -> None:
        mic = F.unix_micros(F.col("ts").cast("timestamp"))
        tagged = batch.select(F.col("event_id"), mic.alias("__us"))
        wm = state["wm_us"]
        late = (
            tagged.filter(F.col("__us") < F.lit(wm - delay_us))
            .select("event_id", (F.lit(wm - delay_us) - F.col("__us")).alias("lateness_us"))
            if wm is not None
            else tagged.filter(F.lit(False)).select(
                "event_id", F.lit(0).cast("long").alias("lateness_us")
            )
        )
        late.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")
        mx = tagged.agg(F.max("__us")).first()[0]
        if mx is not None:
            state["wm_us"] = mx if wm is None else max(wm, mx)

    drain(stream.writeStream.foreachBatch(handle))
    from flink_example_spark.streaming.pipeline import _read_batches

    return _read_batches(spark, outdir)


def late_split_oracle(chunks: int = 3, delay_us: int = 0) -> str:
    return f"""
        WITH ch AS (
          SELECT event_id, epoch_us(ts) AS us,
                 CAST(event_id % {chunks} AS INTEGER) AS chunk
          FROM events
        ), cm AS (
          SELECT chunk, MAX(us) AS mx FROM ch GROUP BY chunk
        ), pm AS (
          SELECT chunk,
                 MAX(mx) OVER (ORDER BY chunk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS wm
          FROM cm
        )
        SELECT event_id, (pm.wm - {delay_us}) - ch.us AS lateness_us
        FROM ch JOIN pm USING (chunk)
        WHERE pm.wm IS NOT NULL AND ch.us < pm.wm - {delay_us}
    """


def run_streaming_rule_filter(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """STREAMING dynamic-rule filtering — the broadcast-state pattern live:
    each event micro-batch is judged by the rule changelog AS OF the
    event's own time (foreachBatch as-of against the frozen rules index),
    so replay and live runs agree exactly; a per-event result never
    changes once emitted (no retraction handling). Converges to batch
    ``versioned_rule_filter`` → shares its oracle."""
    from flink_example_spark.operators.versioned import temporal_rule_filter
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    ev_b = load_table(spark, sf_dir, "events")
    rules = (
        ev_b.groupBy("event_type", F.date_trunc("week", "ts").alias("__wk"))
        .agg(F.percentile(F.col("value"), F.lit(0.5)).alias("min_value"))
        .select(
            "event_type",
            F.expr("timestampadd(DAY, 7, __wk)").alias("_change_time"),
            "min_value",
        )
        .localCheckpoint()  # the frozen rules index, re-joined per batch
    )
    tmpdir, schema = _stage_mod_chunks(spark, sf_dir, chunks)
    stream = read_chunks(spark, tmpdir, schema)
    outdir = tempfile.mkdtemp(prefix="stream_rules_")

    def handle(batch: DataFrame, batch_id: int) -> None:
        probes = batch.select("event_id", "event_type", "ts", "value")
        out = temporal_rule_filter(probes, rules, on="event_type", event_time="ts")
        out.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    drain(stream.writeStream.foreachBatch(handle))
    return _read_batches(spark, outdir)


def run_streaming_quality(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """STREAMING data-quality monitoring: the row-expectation violation
    counters are plain conditional SUMS — a commutative monoid — so the
    live report is ONE complete-mode JVM aggregation over the event
    stream, unpivoted to check rows at read time. Converges to the batch
    ``expect`` rows exactly (shares the expectation subset of the
    quality_report oracle)."""
    from flink_example_spark.tables import normalize_ts

    tune(spark)
    tmpdir, schema = _stage_mod_chunks(spark, sf_dir, chunks)
    stream = read_chunks(spark, tmpdir, schema)
    ev = normalize_ts(stream, "ts")  # shared ingest guard (both layouts)
    rules = [
        ("user_id_not_null", F.col("user_id").isNotNull()),
        ("value_non_negative", F.col("value") >= 0),
        (
            "event_type_in_set",
            F.col("event_type").isin("click", "error", "purchase", "signup", "view"),
        ),
        (
            "ts_in_2024",
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-01 00:00:00")))
            & (F.col("ts") < F.to_timestamp(F.lit("2025-01-01 00:00:00"))),
        ),
    ]
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.when(~pred, 1).otherwise(0)).alias(f"__v{i}")
        for i, (_, pred) in enumerate(rules)
    ]

    s = drain_to_table(ev.agg(*aggs), "complete")
    arms = [
        F.struct(
            F.lit(rname).alias("check"),
            F.col("__n").alias("n_rows"),
            F.col(f"__v{i}").alias("n_violations"),
        )
        for i, (rname, _) in enumerate(rules)
    ]
    return (
        s.select(F.explode(F.array(*arms)).alias("__c"))
        .select("__c.check", "__c.n_rows", "__c.n_violations")
        .withColumn("passed", F.col("n_violations") == 0)
    )
