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

``pipeline`` runs all of it as ONE per-entity fold over the log. Both
histories are running aggregates of the log the examples come from, and an
inclusive as-of join against a running aggregate is that aggregate over
the entity's rows up to and including the probe instant. So the log is
shuffled on ``user_id``, sorted on ``user_id`` alone, and
``fes.BackfillFold`` (``jvm/src/fes/BackfillFold.java``) runs each entity
through the walk ``fes.EntityWalk``, which buffers the entity's rows,
orders them by ``(ts, event_id)`` and walks them once:

- an error whose predecessor is an error is an example;
- a forward pointer sums error values up to the example's ``ts``: the
  feature as of ``_prediction_time``, exact in DECIMAL;
- a second one counts purchases up to ``ts`` + 1 h: the target as of
  ``_label_time``.

So one scan, one shuffle, one sort on one key and no window, where the
composed form plans 3 scans and 5 exchanges, sorts and windows.

All timestamps are cast TIMESTAMP_NTZ and the session timezone pinned UTC so
results hash identically to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.jvm import backfill_fold
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


def evidence(events: DataFrame) -> DataFrame:
    """The rows every path of the temporal join reads, batch and stream: a
    row with no ``user_id`` is of no entity, and one with no ``ts`` has no
    place in the as-of order nor in a watermark."""
    return events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())


def feature_history(events: DataFrame) -> DataFrame:
    errs = evidence(events).filter(F.col("event_type") == LOSS_TYPE).withColumn(
        "__v", F.col("value").cast("decimal(18,2)")
    )
    hist = version_history(
        errs, key="user_id", time_col="ts", aggs={"loss_value": F.sum("__v")}
    )
    # Exact decimal accumulation internally; DOUBLE at the boundary so both
    # engines (and pandas/Arrow) agree on representation.
    return hist.withColumn("loss_value", F.col("loss_value").cast("double"))


def target_history(events: DataFrame) -> DataFrame:
    purchases = evidence(events).filter(F.col("event_type") == TARGET_TYPE)
    return version_history(
        purchases, key="user_id", time_col="ts", aggs={"cnt": F.count(F.lit(1))}
    )


def examples(events: DataFrame) -> DataFrame:
    return consecutive_loss_examples(
        evidence(events),
        key="user_id",
        time_col="ts",
        loss_col=F.when(F.col("event_type") == LOSS_TYPE, F.lit(1)),
        label_delay_hours=LABEL_DELAY_HOURS,
    )


# Event kinds as the walk reads them (fes.EntityWalk.ERROR / PURCHASE).
_KIND = (
    f"CAST(CASE event_type WHEN '{LOSS_TYPE}' THEN 1 WHEN '{TARGET_TYPE}' THEN 2 END"
    " AS TINYINT)"
)


def fold_input(events: DataFrame, *keep: str) -> DataFrame:
    """The walk's input columns (``user_id``, ``ts`` as µs since the epoch
    in the session zone, ``event_id``, kind, error value), then ``keep``."""
    return events.selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS micros",
        "CAST(event_id AS BIGINT) AS event_id",
        f"{_KIND} AS kind",
        f"CASE WHEN event_type = '{LOSS_TYPE}' THEN CAST(value AS DECIMAL(18,2)) END AS value",
        *keep,
    )


def fold_output(folded: DataFrame) -> DataFrame:
    """The walk's output as training examples, ``ts`` back to TIMESTAMP_NTZ."""
    prediction_time = "CAST(timestamp_micros(ts) AS TIMESTAMP_NTZ)"
    return folded.selectExpr(
        "user_id AS _entity",
        f"{prediction_time} AS _prediction_time",
        f"timestampadd(HOUR, {LABEL_DELAY_HOURS}, {prediction_time}) AS _label_time",
        "CAST(loss AS DOUBLE) AS loss_value",
        "cnt",
    )


def pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: full point-in-time-correct training-example generation.

    Equal to ``training_examples(examples(ev), feature_history(ev),
    target_history(ev))``, computed by the one fold of the module
    docstring over the log's ``evidence``."""
    # load_events pins the session zone to UTC, so the µs round-trip exactly.
    ev = fold_input(evidence(load_events(spark, sf_dir)))
    clustered = ev.repartition("user_id").sortWithinPartitions("user_id")
    return fold_output(backfill_fold(clustered, LABEL_DELAY_HOURS * 3600 * 10**6))
