"""The reference pipeline re-targeted at the harness ``events`` table.

Mapping from the reference fixtures (App.java:90-141) to the synthetic
``events(event_id, ts, user_id, event_type, value, props)`` table:

- GamePlay "loss" (``won = false``)  →  ``event_type = 'error'``
- ``duration``                        →  ``value`` (cast DECIMAL(18,2) so
  cumulative sums are exact and engine-order-independent)
- Purchase                            →  ``event_type = 'purchase'``

The pieces (App.java:47, 52, 64-77, 200-233) stay callable on their own:
``feature_history`` (A1 as history), ``target_history`` (A2 as history),
``examples`` (W1 + P3, label 1 h later, F2), composed by
``plans.training.training_examples`` (J1 + J2).

``pipeline`` runs all of it as ONE window over the log, ``PARTITION BY
user_id ORDER BY ts``, with three frames. Both histories are running
aggregates of the log the examples come from, and an inclusive as-of join
against a running aggregate is that aggregate over a RANGE frame ending at
the probe instant (the RANGE frame takes tied rows in, like ``<=``):

- ``ROWS 1 PRECEDING``: COUNT of errors = 2 finds the examples;
- ``RANGE UNBOUNDED PRECEDING .. CURRENT ROW``: SUM of error values is the
  feature as of ``_prediction_time``;
- ``RANGE UNBOUNDED PRECEDING .. INTERVAL 1 HOUR FOLLOWING``: COUNT of
  purchases is the target as of ``_label_time``.

So one scan, one shuffle on ``user_id``, one sort and one window, where
the composed form plans 3 scans and 5 of each of the others.

All timestamps are cast TIMESTAMP_NTZ and the session timezone pinned UTC so
results hash identically to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.operators.versioned import version_history
from flink_example_spark.plans.training import consecutive_loss_examples
from flink_example_spark.session import tune

LOSS_TYPE = "error"
TARGET_TYPE = "purchase"
LABEL_DELAY_HOURS = 1


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
        label_delay_hours=LABEL_DELAY_HOURS,
    )


_OVER = "OVER (PARTITION BY user_id ORDER BY ts {})"
_LAST_TWO = _OVER.format("ROWS BETWEEN 1 PRECEDING AND CURRENT ROW")
_TO_PREDICTION = _OVER.format("RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
_TO_LABEL = _OVER.format(
    f"RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL {LABEL_DELAY_HOURS} HOURS FOLLOWING"
)
_LOSS = f"event_type = '{LOSS_TYPE}'"
_TARGET = f"event_type = '{TARGET_TYPE}'"


def pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: full point-in-time-correct training-example generation.

    Equal to ``training_examples(examples(ev), feature_history(ev),
    target_history(ev))``, computed by the one window of the module
    docstring. NULL ``ts`` rows sort first and are peers of each other, so
    they fall inside every RANGE frame of a row with a known ``ts``, as they
    fall inside the running aggregates of the histories. A history has no
    version at a NULL time: an example with a NULL ``ts`` gets NULL
    features, and ``cnt`` is NULL until a purchase with a known ``ts`` is at
    or before the label time.
    """
    ev = load_events(spark, sf_dir)
    return ev.selectExpr(
        "user_id AS _entity",
        "ts AS _prediction_time",
        f"timestampadd(HOUR, {LABEL_DELAY_HOURS}, ts) AS _label_time",
        f"count(CASE WHEN {_LOSS} THEN 1 END) {_LAST_TWO} AS __losses",
        f"""CASE WHEN ts IS NOT NULL THEN CAST(
              sum(CASE WHEN {_LOSS} THEN CAST(value AS DECIMAL(18,2)) END) {_TO_PREDICTION}
            AS DOUBLE) END AS loss_value""",
        f"""CASE WHEN count(CASE WHEN {_TARGET} AND ts IS NOT NULL THEN 1 END) {_TO_LABEL} > 0
            THEN count(CASE WHEN {_TARGET} THEN 1 END) {_TO_LABEL} END AS cnt""",
    ).filter("__losses = 2").drop("__losses")
