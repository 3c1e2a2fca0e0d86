"""The reference pipeline re-targeted at the harness ``events`` table.

Mapping from the reference fixtures (App.java:90-141) to the synthetic
``events(event_id, ts, user_id, event_type, value, props)`` table:

- GamePlay "loss" (``won = false``)  →  ``event_type = 'error'``
- ``duration``                        →  ``value`` (cast DECIMAL(18,2) so
  cumulative sums are exact and engine-order-independent)
- Purchase                            →  ``event_type = 'purchase'``

Pipeline (mirrors App.java:47, 52, 64-77, 200-233):

- features:  per-user running SUM(value) over error events  (A1 as history)
- target:    per-user running COUNT(*) over purchase events (A2 as history)
- examples:  two consecutive error events per user (W1 + P3), label 1h later (F2)
- training_examples: LEFT as-of joins at prediction / label time (J1 + J2)

All timestamps are cast TIMESTAMP_NTZ and the session timezone pinned UTC so
results hash identically to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.operators.versioned import version_history
from flink_example_spark.plans.training import consecutive_loss_examples, training_examples
from flink_example_spark.session import tune

LOSS_TYPE = "error"
TARGET_TYPE = "purchase"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_example_spark.tables import load_table

    tune(spark)
    return load_table(spark, sf_dir, "events")


def feature_history(events: DataFrame) -> DataFrame:
    errs = events.filter(F.col("event_type") == LOSS_TYPE).withColumn(
        "__v", F.col("value").cast("decimal(18,2)")
    )
    hist = version_history(
        errs, key="user_id", time_col="ts", aggs={"loss_value": F.sum("__v")}
    )
    # Exact decimal accumulation internally; DOUBLE at the boundary so both
    # engines (and pandas/Arrow) agree on representation.
    return hist.withColumn("loss_value", F.col("loss_value").cast("double"))


def target_history(events: DataFrame) -> DataFrame:
    purchases = events.filter(F.col("event_type") == TARGET_TYPE)
    return version_history(
        purchases, key="user_id", time_col="ts", aggs={"cnt": F.count(F.lit(1))}
    )


def examples(events: DataFrame) -> DataFrame:
    return consecutive_loss_examples(
        events,
        key="user_id",
        time_col="ts",
        loss_col=F.when(F.col("event_type") == LOSS_TYPE, F.lit(1)),
    )


def pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: full point-in-time-correct training-example generation."""
    ev = load_events(spark, sf_dir)
    return training_examples(examples(ev), feature_history(ev), target_history(ev))
