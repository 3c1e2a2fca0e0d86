"""The reference's de-facto acceptance test: the GamePlay/Purchase fixtures
must reproduce the golden output at App.java:80-81 exactly, plus the
stage-level goldens from FIXTURES.md."""

from __future__ import annotations

import random
import re
from collections import Counter
from contextlib import contextmanager
from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

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


_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_T0 = datetime(2024, 1, 1, 10, 0)


def _at(minutes, micros=0):
    return _T0 + timedelta(minutes=minutes, microseconds=micros)


# (ts, user_id, event_type, value). No instant holds an error and a
# non-error of one user: the order of such a tie is arbitrary in the
# row-frame window (ROADMAP item 2), so no path has one answer for it.
_EDGE_LOG = [
    # user 1: decimal sum 0.1 + 0.2; a purchase exactly at _label_time
    # (11:05, counted) and one 1 µs later (not counted)
    (_at(0), 1, "error", 0.1),
    (_at(5), 1, "error", 0.2),
    (_at(30), 1, "purchase", 9.0),
    (_at(65), 1, "purchase", 9.0),
    (_at(65, 1), 1, "purchase", 9.0),
    # user 2: two errors tied at 12:00 after an error (two examples, each
    # seeing both tied values); a click, then two errors tied at 14:00
    # (one example)
    (_at(0), 2, "error", 1.0),
    (_at(120), 2, "error", 2.0),
    (_at(120), 2, "error", 3.0),
    (_at(150), 2, "purchase", 5.0),
    (_at(180), 2, "click", 0.0),
    (_at(240), 2, "error", 4.0),
    (_at(240), 2, "error", 5.0),
    # user 3: a click breaks the streak; an error with a NULL value; no
    # purchase at all, so cnt is NULL
    (_at(0), 3, "error", 1.5),
    (_at(10), 3, "click", 0.0),
    (_at(20), 3, "error", None),
    (_at(30), 3, "error", 2.5),
    # user 4: a purchase before any error
    (_at(-60), 4, "purchase", 1.0),
    (_at(0), 4, "error", 1.0),
    (_at(1), 4, "error", 1.0),
]

# A row with no user_id or no ts is not evidence (events_demo.evidence).
_NULL_LOG = _EDGE_LOG + [
    # NULL user_id: no example
    (_at(0), None, "error", 1.0),
    (_at(5), None, "error", 2.0),
    (_at(30), None, "purchase", 1.0),
    # user 6: two NULL-ts errors, then one timed error: no example
    (None, 6, "error", 1.0),
    (None, 6, "error", 2.0),
    (_at(0), 6, "error", 4.0),
    # user 7: a NULL-ts purchase counts in no label
    (None, 7, "purchase", 1.0),
    (_at(0), 7, "error", 1.0),
    (_at(5), 7, "error", 1.0),
    (_at(120), 7, "purchase", 1.0),
    (_at(180), 7, "error", 1.0),
    (_at(190), 7, "error", 1.0),
    # user 8: NULL-ts rows that are not errors
    (None, 8, "purchase", 1.0),
    (None, 8, "click", 1.0),
    (_at(0), 8, "error", 1.0),
    (_at(5), 8, "error", 1.0),
]


# Sums past 2^53 and past 2^63 cents: the fold must add exactly.
_BIG_LOG = [(_at(i), 1, "error", 9.0e15) for i in range(12)] + [
    (_at(0), 2, "error", 0.07),
    (_at(1), 2, "error", 1.0e15),
]

# One entity with 5,000 events, written in shuffled order: the fold's
# buffer grows and it has to order what it reads. Instants are distinct.
_rng = random.Random(8)
_HOT_LOG = [
    (_at(0, 1000 * i), 9, _rng.choice(("error", "error", "purchase", "click")),
     _rng.randrange(100, 100_000) / 100)
    for i in range(5000)
]
_rng.shuffle(_HOT_LOG)

# An error and a click of one user share an instant; the fold orders them
# by event_id (the position in this list). User 1: error, click, error, so
# no example. User 2: error, error, click, so one example at _at(5).
_TIE_LOG = [
    (_at(0), 1, "error", 1.0),
    (_at(5), 1, "click", 0.0),
    (_at(5), 1, "error", 2.0),
    (_at(0), 2, "error", 1.0),
    (_at(5), 2, "error", 2.0),
    (_at(5), 2, "click", 0.0),
]


def _write_events(spark, tmp_path, log):
    """The log as ``events.parquet`` with ``event_id`` = position in ``log``,
    written newest row first so that no path can lean on the file order."""
    rows = [(i, ts, u, kind, v, None) for i, (ts, u, kind, v) in enumerate(log)]
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows[::-1], _EVENTS_SCHEMA).coalesce(1).write.parquet(path)
    return str(tmp_path), path


@contextmanager
def _shuffle_partitions(spark, n):
    """``n`` shuffle partitions, none coalesced, for the calls inside."""
    from flink_example_spark.session import _scoped_conf, shuffle_partitions

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    with shuffle_partitions(spark, n), _scoped_conf(spark, coalesce, "false"):
        yield


def _fused_and_composed(spark, sf_dir, partitions):
    from flink_example_spark.plans.events_demo import (
        examples,
        feature_history,
        load_events,
        pipeline,
        target_history,
    )
    from flink_example_spark.plans.training import training_examples

    ev = load_events(spark, sf_dir)
    fused = pipeline(spark, sf_dir)
    composed = training_examples(examples(ev), feature_history(ev), target_history(ev))
    assert fused.dtypes == composed.dtypes
    rows = Counter(map(tuple, fused.collect()))
    plan = fused._jdf.queryExecution().executedPlan().toString()
    one = "SinglePartition" if partitions == 1 else rf"hashpartitioning\(user_id#\d+L?, {partitions}\)"
    assert re.search(rf"Exchange {one}", plan)
    return rows, Counter(map(tuple, composed.collect()))


def test_fused_backfill_matches_composed_asof(spark, tmp_path):
    """``events_demo.pipeline`` (the per-entity fold) returns the same
    multiset as the composed as-of joins over the two version histories and
    as the DuckDB ``training_examples`` twin, on logs of as-of edge cases, at
    1, 7 and 32 shuffle partitions.

    The NULL log adds NULL ``user_id`` and NULL ``ts`` rows, which are no
    evidence on any path; the e2e stream gives the same multiset there. The
    big log sums past 2^53 and 2^63 cents. On the tie log the composed path
    and the twin order an error tied with a click arbitrarily (ROADMAP item
    2), so only the fold's answer is pinned there, at every partition
    count."""
    import duckdb

    import __spark_entry__
    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    twin_sql = __spark_entry__._all_oracles()["training_examples"]
    logs, twins = {}, {}
    for name, log in (("edge", _EDGE_LOG), ("nulls", _NULL_LOG), ("big", _BIG_LOG),
                      ("hot", _HOT_LOG), ("ties", _TIE_LOG)):
        logs[name], path = _write_events(spark, tmp_path / name, log)
        if name != "ties":
            con = duckdb.connect()
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')")
            twins[name] = Counter(con.execute(twin_sql).fetchall())
    streamed = Counter(map(tuple, run_streaming_pipeline_e2e(spark, logs["nulls"]).collect()))
    h = timedelta(hours=1)
    for n in (1, 7, 32):
        with _shuffle_partitions(spark, n):
            fused, composed = _fused_and_composed(spark, logs["edge"], n)
            assert fused == composed == twins["edge"]
            assert fused[(1, _at(5), _at(5) + h, 0.3, 2)] == 1
            assert fused[(2, _at(120), _at(120) + h, 6.0, 1)] == 2
            assert fused[(2, _at(240), _at(240) + h, 15.0, 1)] == 1
            assert fused[(3, _at(30), _at(30) + h, 4.0, None)] == 1
            assert fused[(4, _at(1), _at(1) + h, 2.0, 1)] == 1
            assert sum(fused.values()) == 6

            fused, composed = _fused_and_composed(spark, logs["nulls"], n)
            assert fused == composed == twins["nulls"] == streamed
            assert not [r for r in fused if r[0] is None or r[0] == 6]
            assert fused[(7, _at(5), _at(5) + h, 2.0, None)] == 1
            assert fused[(7, _at(190), _at(190) + h, 4.0, 1)] == 1
            assert fused[(8, _at(5), _at(5) + h, 2.0, None)] == 1
            assert sum(fused.values()) == 9

            fused, composed = _fused_and_composed(spark, logs["big"], n)
            assert fused == composed == twins["big"]
            assert fused[(1, _at(11), _at(11) + h, 1.08e17, None)] == 1
            assert fused[(2, _at(1), _at(1) + h, 1000000000000000.125, None)] == 1

            fused, composed = _fused_and_composed(spark, logs["hot"], n)
            assert fused == composed == twins["hot"]
            assert sum(fused.values()) > 1000

            fused, _ = _fused_and_composed(spark, logs["ties"], n)
            assert fused == Counter({(2, _at(5), _at(5) + h, 3.0, None): 1})


def test_histories_on_null_log_match_stream_and_twin(spark, tmp_path):
    """On the NULL log ``feature_history`` and ``target_history`` equal
    their DuckDB twins and the ``sum`` / ``count`` history streams as
    multisets, at 1, 7 and 32 shuffle partitions: a row with no
    ``user_id`` or no ``ts`` is in no version."""
    import duckdb

    import __spark_entry__
    from flink_example_spark.plans.events_demo import (
        feature_history,
        load_events,
        target_history,
    )
    from flink_example_spark.streaming.incremental import run_incremental_feature_history

    sf_dir, path = _write_events(spark, tmp_path, _NULL_LOG)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')")
    for agg, batch, twin_sql in (
        ("sum", feature_history, __spark_entry__._FH_SQL),
        ("count", target_history, __spark_entry__._TH_SQL),
    ):
        twin = Counter(con.execute(twin_sql).fetchall())
        streamed = Counter(
            map(tuple, run_incremental_feature_history(spark, sf_dir, agg=agg).collect())
        )
        assert streamed == twin
        assert not [r for r in twin if r[0] is None or r[1] is None]
        for n in (1, 7, 32):
            with _shuffle_partitions(spark, n):
                assert Counter(map(tuple, batch(load_events(spark, sf_dir)).collect())) == twin
