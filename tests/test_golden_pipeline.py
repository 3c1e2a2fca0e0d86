"""The reference's de-facto acceptance test: the GamePlay/Purchase fixtures
must reproduce the golden output at App.java:80-81 exactly, plus the
stage-level goldens from FIXTURES.md."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from flink_example_spark.functions.scalar import nullif_
from flink_example_spark.operators.versioned import latest_versions, version_history
from flink_example_spark.plans.training import (
    consecutive_loss_examples,
    reference_pipeline,
)
from flink_example_spark.sources.fixtures import GOLDEN_ROWS, game_play, purchase


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_golden_output(spark):
    out = reference_pipeline(spark)
    cols = ["_entity", "_prediction_time", "_label_time", "loss_duration", "cnt"]
    assert out.columns == cols
    assert rows_set(out, cols) == set(GOLDEN_ROWS)


def test_features_final_state(spark):
    """Features query final state (FIXTURES.md): (Alice, 7), (Bob, 18)."""
    hist = version_history(
        game_play(spark).filter(F.col("won") == F.lit(False)),
        key="user",
        time_col="ts",
        aggs={"loss_duration": F.sum("duration")},
    )
    latest = latest_versions(hist, "_entity")
    assert rows_set(latest, ["_entity", "loss_duration"]) == {("Alice", 7), ("Bob", 18)}


def test_features_version_history(spark):
    hist = version_history(
        game_play(spark).filter(F.col("won") == F.lit(False)),
        key="user",
        time_col="ts",
        aggs={"loss_duration": F.sum("duration")},
    )
    expected = {
        ("Bob", datetime(2021, 8, 21, 2, 35), 3),
        ("Bob", datetime(2021, 8, 21, 3, 46), 11),
        ("Alice", datetime(2021, 8, 21, 5, 36), 2),
        ("Bob", datetime(2021, 8, 21, 7, 22), 18),
        ("Alice", datetime(2021, 8, 21, 8, 35), 7),
    }
    assert rows_set(hist, ["_entity", "_change_time", "loss_duration"]) == expected


def test_target_version_history(spark):
    hist = version_history(
        purchase(spark), key="user", time_col="ts", aggs={"cnt": F.count(F.lit(1))}
    )
    expected = {
        ("Alice", datetime(2021, 8, 21, 1, 2), 1),
        ("Alice", datetime(2021, 8, 21, 1, 35), 2),
        ("Bob", datetime(2021, 8, 21, 3, 51), 1),
    }
    assert rows_set(hist, ["_entity", "_change_time", "cnt"]) == expected


def test_examples_query(spark):
    ex = consecutive_loss_examples(
        game_play(spark), key="user", time_col="ts", loss_col=nullif_("won", True)
    )
    expected = {
        ("Bob", datetime(2021, 8, 21, 3, 46), datetime(2021, 8, 21, 4, 46)),
        ("Alice", datetime(2021, 8, 21, 8, 35), datetime(2021, 8, 21, 9, 35)),
    }
    assert rows_set(ex, ["_entity", "_prediction_time", "_label_time"]) == expected
