"""The fused single-query streaming pipeline must converge exactly to the
batch flagship (SURVEY.md §5 streaming-parity strategy; the reference runs
its whole graph as one job, App.java:87)."""

from __future__ import annotations

from datetime import datetime as D

SF = "/root/testdata/sf0.001"


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_e2e_pipeline_converges_to_batch(spark):
    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    streamed = run_streaming_pipeline_e2e(spark, SF)
    batch = pipeline(spark, SF)
    assert streamed.columns == batch.columns
    assert rows_set(streamed) == rows_set(batch)


def test_e2e_chunks_fast_path_identical(spark):
    """The chunk count must not change results: convergence is
    chunk-count-invariant (chunks=1 = fewer micro-batches = faster; same
    rows, same hash)."""
    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    fast = rows_set(run_streaming_pipeline_e2e(spark, SF, chunks=1))
    two = rows_set(run_streaming_pipeline_e2e(spark, SF, chunks=2))
    assert fast == two


def test_e2e_is_one_streaming_query_with_one_stateful_op(spark):
    """Structural pin: the assembled plan is ONE streaming DataFrame whose
    analyzed plan is one ``transformWithState`` behind one watermark: no
    stream-stream join, no streaming aggregation, no foreachBatch."""
    from flink_example_spark.streaming.e2e import build_pipeline_stream
    from flink_example_spark.tables import load_table

    from pyspark.sql import functions as F

    schema = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    final = build_pipeline_stream(stream)
    assert final.isStreaming
    plan = final._jdf.queryExecution().analyzed().toString()
    assert plan.count("TransformWithState ") == 1
    assert plan.count("Join ") == 0
    assert plan.count("Aggregate ") == 0
    assert plan.count("EventTimeWatermark ") == 1


def test_e2e_checkpoint_recovery(spark, tmp_path):
    """Exactly-once restartability of the one-operator query: stage the
    whole replay once, hold back its second chunk and its sentinel waves,
    drain the first half (availableNow), then put them back and RESTART
    from the same checkpoint into the same parquet sink. The restarted
    query resumes from the committed offsets/state and the combined output
    equals the batch flagship exactly — no lost rows, no duplicates."""
    import os
    import shutil

    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.session import rocksdb_state_store, shuffle_partitions
    from flink_example_spark.streaming.e2e import (
        WAVES,
        build_pipeline_stream,
        stage_replay,
    )
    from flink_example_spark.streaming.staging import read_chunks

    cp = str(tmp_path / "checkpoint")
    out = str(tmp_path / "out")
    held = tmp_path / "held"
    held.mkdir()
    tmpdir, schema = stage_replay(spark, SF, chunks=2, waves=WAVES)

    def run_once():
        final = build_pipeline_stream(read_chunks(spark, tmpdir, schema))
        with shuffle_partitions(spark, 8), rocksdb_state_store(spark):
            q = (
                final.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    try:
        # phase 1: chunk_0 alone (no sentinels — nothing flushes yet). A
        # rename keeps the mtimes stamped at staging, so the held-back
        # files still sort after chunk_0 when they come back.
        later = sorted(n for n in os.listdir(tmpdir) if n != "chunk_0")
        assert later[0] == "chunk_1" and len(later) == 1 + WAVES
        for name in later:
            shutil.move(os.path.join(tmpdir, name), held / name)
        run_once()
        interim = spark.read.parquet(out).count() if os.listdir(out) else 0

        # phase 2: put chunk_1 and the sentinel waves back, restart from
        # the same checkpoint
        for name in later:
            shutil.move(held / name, os.path.join(tmpdir, name))
        run_once()
    finally:
        shutil.rmtree(tmpdir)

    streamed = spark.read.parquet(out)
    batch = pipeline(spark, SF)
    assert rows_set(streamed) == rows_set(batch)
    # the first run alone must NOT have produced the full result (the
    # restart really continued work rather than redoing a finished job)
    assert interim < batch.count()


def test_core_replays_remove_their_staging(spark, tmp_path, monkeypatch):
    """Both core replays remove the chunk files they stage once the query
    has drained, also when the drain raises; the memory-sink results still
    equal the batch relations afterwards."""
    import os
    import tempfile

    import pytest

    from flink_example_spark.plans.events_demo import (
        feature_history,
        load_events,
        pipeline,
    )
    from flink_example_spark.streaming import e2e
    from flink_example_spark.streaming.incremental import (
        run_incremental_feature_history,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    streamed = e2e.run_streaming_pipeline_e2e(spark, SF)
    hist = run_incremental_feature_history(spark, SF)
    assert os.listdir(tmp_path) == []
    assert rows_set(streamed) == rows_set(pipeline(spark, SF))
    assert rows_set(hist) == rows_set(feature_history(load_events(spark, SF)))

    def fail(*args, **kwargs):
        raise RuntimeError("drain failed")

    monkeypatch.setattr(e2e, "drain_to_table", fail)
    with pytest.raises(RuntimeError, match="drain failed"):
        e2e.run_streaming_pipeline_e2e(spark, SF)
    assert os.listdir(tmp_path) == []


# Events tied in ts: two tied errors (entity 1), three (entity 2), and an
# error tied with an earlier-id click (entity 3, no example: the click is
# the error's predecessor). The last examples (entity 2) sit at the log's
# last instant.
_TIE_ROWS = [
    (1, D(2024, 1, 1, 10), 1, "error", 1.0),
    (2, D(2024, 1, 1, 11), 1, "error", 2.0),
    (3, D(2024, 1, 1, 11), 1, "error", 3.0),
    (4, D(2024, 1, 1, 11, 10), 1, "purchase", 0.0),
    (5, D(2024, 1, 1, 11, 20), 1, "purchase", 0.0),
    (6, D(2024, 1, 1, 10), 2, "error", 1.5),
    (7, D(2024, 1, 1, 12), 2, "error", 2.5),
    (8, D(2024, 1, 1, 12), 2, "error", 0.25),
    (9, D(2024, 1, 1, 12), 2, "error", 0.1),
    (10, D(2024, 1, 1, 10), 3, "error", 1.0),
    (11, D(2024, 1, 1, 11), 3, "click", 0.0),
    (12, D(2024, 1, 1, 11), 3, "error", 2.0),
]


def _write_log(path, rows):
    """``rows`` as ``events.parquet``, newest row first, so that no path can
    lean on the file order."""
    import pandas as pd

    pd.DataFrame(
        rows[::-1], columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(path / "events.parquet", index=False)
    return str(path)


def test_e2e_tied_errors_count_each_event_once(spark, tmp_path):
    """On tied timestamps the stream equals batch ``pipeline`` as a
    multiset: both order an entity's events by ``(ts, event_id)``, so each
    tied error is its own example (one row each), every event counts once
    in ``loss_value`` and ``cnt``, and an error whose tied predecessor is a
    click is no example."""
    from collections import Counter

    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    sf = _write_log(tmp_path, _TIE_ROWS)
    streamed = Counter(map(tuple, run_streaming_pipeline_e2e(spark, sf).collect()))
    batch = Counter(map(tuple, pipeline(spark, sf).collect()))
    assert streamed == batch
    assert set(streamed) == {
        (1, D(2024, 1, 1, 11), D(2024, 1, 1, 12), 6.0, 2),
        (2, D(2024, 1, 1, 12), D(2024, 1, 1, 13), 4.35, None),
    }
    assert sorted(streamed.values()) == [2, 3]


def test_e2e_one_sentinel_wave_flushes_every_probe(spark, tmp_path):
    """``WAVES`` sentinel waves are the fewest that flush every example:
    with one fewer the watermark never passes the log's last instant, so
    exactly the examples whose label time is at or after it stay in state
    (entity 4's early one comes out); with ``WAVES`` the stream equals
    batch."""
    from collections import Counter

    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.streaming.e2e import WAVES, run_streaming_pipeline_e2e

    early = [(13, D(2024, 1, 1, 9), 4, "error", 1.0), (14, D(2024, 1, 1, 9, 30), 4, "error", 1.0)]
    sf = _write_log(tmp_path, _TIE_ROWS + early)
    batch = Counter(map(tuple, pipeline(spark, sf).collect()))
    last = max(r[1] for r in batch)
    short = Counter(
        map(tuple, run_streaming_pipeline_e2e(spark, sf, waves=WAVES - 1).collect())
    )
    assert short == Counter({r: c for r, c in batch.items() if r[2] < last})
    assert 0 < sum(short.values()) < sum(batch.values())
    full = run_streaming_pipeline_e2e(spark, sf, waves=WAVES)
    assert Counter(map(tuple, full.collect())) == batch


def test_e2e_rejects_a_horizon(spark):
    """The stream has no lookback bound: the third positional slot, kept
    for positional callers, takes only ``None``."""
    import pytest

    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    with pytest.raises(ValueError):
        run_streaming_pipeline_e2e(spark, SF, 30)


def test_empty_log_gives_no_rows_on_every_core_path(spark, tmp_path):
    """A log with no rows, and one whose rows all lack a ``ts``, give 0
    rows with the schema of a non-empty run on every core path: the batch
    fold, the e2e stream and both history streams."""
    from pyspark.sql import functions as F

    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e
    from flink_example_spark.streaming.incremental import run_incremental_feature_history

    (tmp_path / "full").mkdir()
    full = _write_log(tmp_path / "full", _TIE_ROWS)
    log = spark.read.parquet(f"{full}/events.parquet")
    empty, untimed = str(tmp_path / "empty"), str(tmp_path / "untimed")
    log.limit(0).write.parquet(f"{empty}/events.parquet")
    log.withColumn("ts", F.lit(None).cast(log.schema["ts"].dataType)).write.parquet(
        f"{untimed}/events.parquet"
    )
    for run in (
        pipeline,
        run_streaming_pipeline_e2e,
        lambda s, sf: run_incremental_feature_history(s, sf, agg="sum"),
        lambda s, sf: run_incremental_feature_history(s, sf, agg="count"),
    ):
        schema = run(spark, full).schema
        for sf in (empty, untimed):
            out = run(spark, sf)
            assert out.count() == 0
            assert out.schema == schema
