"""STREAMING CDC apply: maintain each key's net change over a live
changelog stream and MERGE onto a base snapshot at read time.

The reference consumes Flink retract streams through its changelog bridge
(App.java:158-193); this is that bridge under Spark's execution model. The
only cross-batch state is the per-key LATEST change — ``max_by`` over the
``(ts, seq)`` changelog order, a commutative idempotent semilattice — so
the stream needs ONE pure-JVM stateful aggregation (complete mode, no
watermark, no Python state) and converges to the batch
:func:`~flink_example_spark.operators.versioned.apply_changelog` result
under any arrival order or chunking. The final merge (full-outer join +
tombstone filter) is the SAME code path batch uses
(``merge_net_changes``), so the twin shares the batch oracle verbatim.

Scale: state is one struct per live key (bounded by key cardinality, not
stream length); the merge runs once at read time against the base
snapshot — exactly the "apply the compacted changelog on read" shape a
lakehouse MERGE pipeline runs at 100 TB.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.operators.versioned import UPDATE_BEFORE, merge_net_changes
from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import (
    drain,
    drain_to_table,
    read_chunks,
    stage_table_by_key,
)

SPLIT_TS = "2024-01-20 00:00:00"


def _changes_cols(ev: DataFrame, split) -> DataFrame:
    """The driver fixture's changelog: post-split events as RowKind ops
    (purchase → +U upsert, error → -D delete, signup → +I insert) with
    ``event_id`` as the LSN tiebreaker. Mirrors ``cdc_apply_entry``."""
    return (
        ev.filter(
            (F.col("ts") > split) & F.col("event_type").isin("purchase", "error", "signup")
        ).select(
            F.col("user_id").alias("_entity"),
            "ts",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "purchase", F.lit("+U"))
            .when(F.col("event_type") == "error", F.lit("-D"))
            .otherwise(F.lit("+I"))
            .alias("op"),
            (F.col("event_id") % 100).alias("cnt"),
        )
    )


def run_streaming_cdc_apply(
    spark: SparkSession, sf_dir: str, split_ts: str = SPLIT_TS, chunks: int = 3
) -> DataFrame:
    """Bounded replay of the changelog through the live net-change state,
    merged onto the pre-split base snapshot. Hash-identical to batch
    ``versioned_cdc_apply`` (shares its oracle)."""
    from flink_example_spark.tables import load_table

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    split = F.to_timestamp(F.lit(split_ts))
    ch = _changes_cols(stream, split)
    # -U retractions never carry net state (paired with a +U at the same
    # instant); max_by over (ts, seq) picks the latest surviving change
    latest = (
        ch.filter(F.col("op") != UPDATE_BEFORE)
        .groupBy("_entity")
        .agg(F.max_by(F.struct("op", "cnt"), F.struct("ts", "seq")).alias("__last"))
    )
    last = drain_to_table(latest, "complete").select(
        "_entity",
        F.translate(F.col("__last.op"), "+-", "").alias("__op"),
        F.col("__last.cnt").alias("__c_cnt"),
    )
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("ts") <= split))
        .groupBy(F.col("user_id").alias("_entity"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return merge_net_changes(base, last, ["_entity"], ["cnt"])


def run_streaming_attribution(
    spark: SparkSession,
    sf_dir: str,
    window: str = "3 days",
    chunks: int = 3,
) -> DataFrame:
    """STREAMING last-touch attribution: the conversion stream is as-of
    joined per micro-batch against the static touch history (the
    ads-server shape — touches are indexed state, conversions arrive
    live), channels rolled up at read time.

    A conversion's attribution never changes once emitted (the as-of
    no-temporal-leakage property), so per-micro-batch evaluation with the
    SAME batch operator is exact under any chunking — converges to batch
    ``cep_attribution`` and shares its oracle. foreachBatch writes are
    keyed on batch_id (overwrite per batch dir) for at-least-once safety.
    """
    from flink_example_spark.operators.asof import asof_join
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    conv = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_entity"),
        F.col("ts").alias("_conv_time"),
        F.col("value").alias("_v"),
    )
    ev = load_table(spark, sf_dir, "events")
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").alias("_entity"),
            F.col("ts").alias("_change_time"),
            F.col("event_type").alias("_channel"),
        )
        .localCheckpoint()  # frozen index, re-joined every micro-batch
    )
    outdir = tempfile.mkdtemp(prefix="stream_attr_")

    def handle(batch: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch, touches, on="_entity", probe_time="_conv_time", tolerance=window
        )
        out.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    drain(conv.writeStream.foreachBatch(handle))
    joined = _read_batches(spark, outdir)
    return (
        joined.groupBy(F.coalesce(F.col("_channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.col("_v").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )
