"""The training-example pipeline — generic re-implementation of the
reference's ``createTrainingExamples`` (App.java:143-234).

The reference hard-codes the feature/target schemas (acknowledged at
App.java:164); here the pipeline is generic over any examples relation and
any version histories, and the probe-time column is a parameter — so the
second as-of join needs no watermark reassignment (App.java:207-225).

Pipeline shape (App.java:79, 200-233):

    examples ──asof(_prediction_time)──► feature history
             ──asof(_label_time)──────► target history
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_example_spark.functions.scalar import nullif_, timestampadd_
from flink_example_spark.operators.asof import asof_join
from flink_example_spark.operators.versioned import version_history
from flink_example_spark.sources.fixtures import game_play, purchase


def consecutive_loss_examples(
    events: DataFrame,
    key: str,
    time_col: str,
    loss_col: Column,
    n: int = 2,
    label_delay_hours: int = 1,
) -> DataFrame:
    """Examples query (App.java:64-77): each time the last ``n`` events of a
    key were all "losses", emit an example at that event's time; the label is
    observed ``label_delay_hours`` later (F2 ``TIMESTAMPADD``, App.java:65).

    ``loss_col`` must be NULL for non-losses and non-NULL for losses — the
    reference's ``NULLIF(won, true)`` trick (F1/A3, App.java:70): COUNT skips
    NULLs, so a row-frame COUNT over the last ``n`` rows counts losses (W1).
    """
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(time_col))
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    return (
        events.withColumn("__defeat_count", F.count(loss_col).over(w))
        .filter(F.col("__defeat_count") == n)  # P3: post-window filter
        .select(
            F.col(key).alias("_entity"),
            F.col(time_col).alias("_prediction_time"),
            timestampadd_("HOUR", label_delay_hours, time_col).alias("_label_time"),
        )
    )


def training_examples(
    examples: DataFrame,
    feature_history: DataFrame,
    target_history: DataFrame,
    key: str = "_entity",
    prediction_time: str = "_prediction_time",
    label_time: str = "_label_time",
) -> DataFrame:
    """J1 + J2 (App.java:200-205, 228-233): LEFT as-of joins, features as of
    prediction time, targets as of label time. Inclusive ``<=`` semantics
    verified against the golden rows (SURVEY.md §0)."""
    with_features = asof_join(examples, feature_history, on=key, probe_time=prediction_time)
    return asof_join(with_features, target_history, on=key, probe_time=label_time)


def reference_pipeline(spark: SparkSession) -> DataFrame:
    """The reference's full main() pipeline on its own fixture rows; must
    reproduce the golden output (App.java:80-81) exactly.

    Output columns: _entity, _prediction_time, _label_time, loss_duration, cnt.
    """
    gp, pu = game_play(spark), purchase(spark)

    # Features query (A1, App.java:47): sum of loss durations per user —
    # materialized as a version history (SURVEY.md §7.1).
    feature_history = version_history(
        gp.filter(F.col("won") == F.lit(False)),  # P2
        key="user",
        time_col="ts",
        aggs={"loss_duration": F.sum("duration")},
    ).withColumn("loss_duration", F.col("loss_duration").cast("int"))

    # Target query (A2, App.java:52): purchase count per user.
    target_history = version_history(
        pu, key="user", time_col="ts", aggs={"cnt": F.count(F.lit(1))}
    )

    examples = consecutive_loss_examples(
        gp, key="user", time_col="ts", loss_col=nullif_("won", True)
    )
    return training_examples(examples, feature_history, target_history)
