"""The fused single-query streaming pipeline must converge exactly to the
batch flagship (SURVEY.md §5 streaming-parity strategy; the reference runs
its whole graph as one job, App.java:87)."""

from __future__ import annotations

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


def test_e2e_is_one_streaming_query_with_two_stateful_ops(spark):
    """Structural pin: the assembled plan is ONE streaming DataFrame whose
    analyzed plan is 1 stream-stream join + 1 streaming aggregation — no
    foreachBatch, no intermediate materialization."""
    from flink_example_spark.streaming.e2e import build_pipeline_stream
    from flink_example_spark.tables import load_table

    from pyspark.sql import functions as F

    schema = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_type", "value"
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{SF}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    final = build_pipeline_stream(stream, horizon_days=30)
    assert final.isStreaming
    plan = final._jdf.queryExecution().analyzed().toString()
    assert plan.count("Join ") == 1
    assert plan.count("Aggregate ") == 1
    assert plan.count("EventTimeWatermark ") == 2  # errors, all events


def test_e2e_checkpoint_recovery(spark, tmp_path):
    """Exactly-once restartability of the two-operator query: run the replay
    with only the first half of the data staged, drain it (availableNow),
    then stage the remaining chunks + sentinel waves and RESTART from the
    same checkpoint into the same parquet sink. The restarted query resumes
    from the committed offsets/state and the combined output equals the
    batch flagship exactly — no lost rows, no duplicates."""
    import os

    from pyspark.sql import functions as F

    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.session import shuffle_partitions
    from flink_example_spark.streaming.e2e import (
        build_pipeline_stream,
        stage_replay,
        strip_sentinels,
    )

    cp = str(tmp_path / "checkpoint")
    out = str(tmp_path / "out")
    chunks, waves = 2, 3

    # phase 1: only chunk 0 staged (no sentinels — nothing flushes yet)
    tmpdir, schema, horizon, cut = stage_replay(
        spark, SF, chunks=chunks, waves=0
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmpdir, "chunk_*"))
        )
        final = build_pipeline_stream(stream, horizon)
        with shuffle_partitions(spark, 8):
            q = (
                final.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # phase-1 staging wrote BOTH chunks; remove chunk_1 before the first run
    # so the restart genuinely sees new files afterwards
    import shutil

    moved = str(tmp_path / "chunk_1_held")
    shutil.move(os.path.join(tmpdir, "chunk_1"), moved)
    run_once()
    interim = spark.read.parquet(out).count() if os.listdir(out) else 0

    # phase 2: put chunk_1 back and add the sentinel waves, restart from
    # the same checkpoint
    shutil.move(moved, os.path.join(tmpdir, "chunk_1"))
    stage_replay(
        spark, SF, horizon_days=horizon, chunks=chunks, waves=waves,
        tmpdir=tmpdir, skip_chunks=chunks,
    )
    run_once()

    streamed = strip_sentinels(spark.read.parquet(out), cut)
    batch = pipeline(spark, SF)
    assert rows_set(streamed) == rows_set(batch)
    # the first run alone must NOT have produced the full result (the
    # restart really continued work rather than redoing a finished job)
    assert interim < batch.count()


def test_e2e_tied_errors_count_each_event_once(spark, tmp_path):
    """Two error events of one entity at the same instant are one probe,
    and every event in its band counts once in ``loss_value`` and ``cnt``
    (the join puts one copy of the probe per tied error on the probe
    side; the aggregate must not count the band rows once per copy)."""
    from datetime import datetime as D

    import pandas as pd

    from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e

    rows = [
        (1, D(2024, 1, 1, 10), 1, "error", 1.0),
        (2, D(2024, 1, 1, 11), 1, "error", 2.0),
        (3, D(2024, 1, 1, 11), 1, "error", 3.0),
        (4, D(2024, 1, 1, 11, 10), 1, "purchase", 0.0),
        (5, D(2024, 1, 1, 11, 20), 1, "purchase", 0.0),
        (6, D(2024, 1, 1, 10), 2, "error", 1.5),
        (7, D(2024, 1, 1, 12), 2, "error", 2.5),
        (8, D(2024, 1, 1, 12), 2, "error", 0.25),
        (9, D(2024, 1, 1, 12), 2, "error", 0.1),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet", index=False)

    streamed = rows_set(run_streaming_pipeline_e2e(spark, str(tmp_path)))
    assert streamed == {
        (1, D(2024, 1, 1, 11), D(2024, 1, 1, 12), 6.0, 2),
        (2, D(2024, 1, 1, 12), D(2024, 1, 1, 13), 4.35, None),
    }
