"""Incremental (streaming) version-history maintenance must converge exactly
to the batch version_history relation — the feature-cache population path."""

from __future__ import annotations

from collections import Counter
from datetime import datetime as D

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from flink_example_spark.plans.events_demo import (
    feature_history,
    load_events,
    target_history,
)
from flink_example_spark.streaming.incremental import run_incremental_feature_history

SF = "/root/testdata/sf0.001"


def _batch(spark, sf, agg):
    ev = load_events(spark, sf)
    return feature_history(ev) if agg == "sum" else target_history(ev)


def _rows(df):
    return Counter(map(tuple, df.collect()))


@pytest.mark.parametrize("agg", ["sum", "count"])
def test_incremental_history_converges_to_batch(spark, agg):
    batch = _batch(spark, SF, agg)
    streamed = run_incremental_feature_history(spark, SF, chunks=3, agg=agg)
    # exact convergence: same rows, same (decimal-exact) values, ties
    # collapsed identically — not approximate equality
    assert _rows(streamed) == _rows(batch)
    out = ("loss_value", DoubleType()) if agg == "sum" else ("cnt", LongType())
    assert streamed.schema == StructType(
        [
            StructField("_entity", LongType()),
            StructField("_change_time", TimestampType()),
            StructField(*out),
        ]
    )


def test_incremental_history_is_incremental(spark):
    """More chunks (more micro-batches) must not change the result — each
    batch folds onto carried state rather than recomputing history."""
    a = _rows(run_incremental_feature_history(spark, SF, chunks=2))
    b = _rows(run_incremental_feature_history(spark, SF, chunks=5))
    assert a == b and len(a) > 0


# (event_id, ts, user_id, event_type, value). User 1: two errors tied at
# 10:00, two purchases tied at 11:00 and an error with no ts; rows with no
# user; user 2's first error has no value, so its sum is NULL.
_LOG = [
    (1, D(2024, 1, 1, 9), 1, "error", 1.0),
    (2, D(2024, 1, 1, 10), 1, "error", 2.0),
    (3, D(2024, 1, 1, 10), 1, "error", 3.25),
    (4, D(2024, 1, 1, 10), 1, "purchase", 9.0),
    (5, D(2024, 1, 1, 11), 1, "purchase", 9.0),
    (6, D(2024, 1, 1, 11), 1, "purchase", 9.0),
    (7, None, 1, "error", 5.0),
    (8, D(2024, 1, 1, 9), None, "error", 1.5),
    (9, D(2024, 1, 1, 9, 30), None, "error", 0.5),
    (10, D(2024, 1, 1, 9, 30), None, "purchase", 1.0),
    (11, D(2024, 1, 1, 8), 2, "error", None),
    (12, D(2024, 1, 1, 12), 2, "error", 1.25),
    (13, D(2024, 1, 1, 12), 2, "click", 0.0),
]


def _write_log(spark, path, rows):
    """``rows`` as ``events.parquet``, newest row first."""
    spark.createDataFrame(
        rows[::-1], "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).coalesce(1).write.parquet(str(path / "events.parquet"))
    return str(path)


@pytest.mark.parametrize("agg", ["sum", "count"])
@pytest.mark.parametrize("chunks", [1, 3])
def test_incremental_history_on_ties_and_nulls(spark, tmp_path, agg, chunks):
    """On tied times, a NULL ``user_id`` and a NULL ``ts`` the stream
    returns, and equals the batch history of the same log as a multiset:
    tied rows are one version, and a row with no user or no time is not
    evidence on either path."""
    sf = _write_log(spark, tmp_path / "log", _LOG)
    streamed = _rows(run_incremental_feature_history(spark, sf, chunks=chunks, agg=agg))
    assert streamed == _rows(_batch(spark, sf, agg))
    if agg == "sum":
        assert streamed == Counter(
            {
                (1, D(2024, 1, 1, 9), 1.0): 1,
                (1, D(2024, 1, 1, 10), 6.25): 1,
                (2, D(2024, 1, 1, 8), None): 1,
                (2, D(2024, 1, 1, 12), 1.25): 1,
            }
        )
    else:
        assert streamed == Counter(
            {
                (1, D(2024, 1, 1, 10), 1): 1,
                (1, D(2024, 1, 1, 11), 3): 1,
            }
        )


def test_incremental_history_is_one_transform_with_state(spark):
    """Structural pin: the history is one JVM ``transformWithState`` behind
    one watermark, with no Python-worker state."""
    from pyspark.sql import functions as F

    from flink_example_spark.streaming.incremental import build_history_stream
    from flink_example_spark.tables import load_table

    schema = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    for agg in ("sum", "count"):
        plan = build_history_stream(stream, agg)._jdf.queryExecution().analyzed().toString()
        assert plan.count("TransformWithState ") == 1
        assert plan.count("FlatMapGroupsInPandasWithState") == 0
        assert plan.count("EventTimeWatermark ") == 1
