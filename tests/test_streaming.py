"""Streaming parity (SURVEY.md §5): micro-batch runs over the same inputs
must converge to the batch results."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_features_converges_to_batch(spark):
    import __spark_entry__ as entrymod
    from flink_example_spark.streaming.pipeline import run_streaming_features

    streamed = run_streaming_features(spark, SF)
    batch = entrymod._all_queries()["features_agg"](spark, SF)
    assert rows_set(streamed) == rows_set(batch)


def test_split_chunks_stages_input_in_order(spark, tmp_path):
    """The one replay splitter: chunk_0..chunk_2 hold the input multiset
    (duplicates included) in disjoint, increasing ranges of the order
    column, rows with a NULL order value in chunk_0, and after
    stamp_chunk_mtimes their files arrive in chunk order. A frame with no
    order value at all goes whole to chunk_0 at every chunk count."""
    import os

    from pyspark.sql import functions as F

    from flink_example_spark.streaming.staging import split_chunks, stamp_chunk_mtimes

    rows = [(i % 7, i * 60, f"r{i}") for i in range(60)] + [(3, 600, "dup")] * 2
    rows += [(5, None, "null")] * 2 + [(6, None, "null")]
    df = spark.createDataFrame(rows, "k long, t long, s string").withColumn(
        "t", F.timestamp_seconds("t")
    )
    split_chunks(df, "t", 3, str(tmp_path))
    dirs = sorted(d for d in os.listdir(tmp_path) if d.startswith("chunk_"))
    assert dirs == ["chunk_0", "chunk_1", "chunk_2"]
    parts = [spark.read.parquet(str(tmp_path / d)) for d in dirs]
    back = parts[0].unionByName(parts[1]).unionByName(parts[2])
    assert back.exceptAll(df).isEmpty() and df.exceptAll(back).isEmpty()
    assert parts[0].filter(F.col("t").isNull()).count() == 3
    spans = [p.agg(F.min("t"), F.max("t")).first() for p in parts]
    assert all(lo[1] < hi[0] for lo, hi in zip(spans, spans[1:]))

    stamp_chunk_mtimes(str(tmp_path))
    mtimes = [
        [os.path.getmtime(tmp_path / d / f) for f in os.listdir(tmp_path / d)]
        for d in dirs
    ]
    assert all(max(a) < min(b) for a, b in zip(mtimes, mtimes[1:]))

    nulls = df.filter(F.col("t").isNull())
    for chunks in (1, 2, 3):
        out = tmp_path / f"nulls_{chunks}"
        split_chunks(nulls, "t", chunks, str(out))
        staged = [spark.read.parquet(str(out / f"chunk_{i}")) for i in range(chunks)]
        assert staged[0].exceptAll(nulls).isEmpty() and nulls.exceptAll(staged[0]).isEmpty()
        assert all(p.isEmpty() for p in staged[1:])


def test_drain_restores_partitions_on_failure(spark, tmp_path):
    """The one replay runner: drain_to_table over a read_chunks stream
    returns the batch answer; the query runs at the drain's partition
    count, the session value is back after a good run and after a failing
    one, the failure reaches the caller and no query is left running."""
    from pyspark.sql import functions as F

    from flink_example_spark.streaming.staging import (
        drain,
        drain_to_table,
        read_chunks,
        split_chunks,
        stamp_chunk_mtimes,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    df = spark.range(30).withColumn("k", F.col("id") % 3)
    split_chunks(df, "id", 3, str(tmp_path))
    stamp_chunk_mtimes(str(tmp_path))
    stream = read_chunks(spark, str(tmp_path), df.schema)

    counts = drain_to_table(stream.groupBy("k").count(), "complete")
    assert rows_set(counts) == rows_set(df.groupBy("k").count())
    assert spark.conf.get(key) == before

    seen = []
    drain(
        stream.writeStream.foreachBatch(
            lambda b, _: seen.append(b.sparkSession.conf.get(key))
        )
    )
    assert seen == ["8"] * 3
    assert spark.conf.get(key) == before

    failing = stream.select(F.raise_error(F.lit("drain-test-failure")).alias("x"))
    with pytest.raises(Exception, match="drain-test-failure"):
        drain_to_table(failing, "append")
    assert spark.conf.get(key) == before
    assert spark.streams.active == []


def test_streaming_tumbling_window_converges(spark):
    """T6 streaming: watermarked tumbling-window aggregate converges to the
    batch daily counts."""
    import uuid

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from flink_example_spark.streaming.pipeline import stream_events

    ev = stream_events(spark, SF)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "event_type", "n")
    )
    name = f"stream_tumble_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["day"].replace(tzinfo=None), r["event_type"], r["n"])
        for r in spark.table(name).collect()
    }
    batch = {
        (r["day"], r["event_type"], r["n"])
        for r in entrymod._all_queries()["tumbling_window_counts"](spark, SF).collect()
    }
    assert streamed == batch


def test_streaming_watermark_declared(spark):
    from flink_example_spark.streaming.pipeline import stream_events

    ev = stream_events(spark, SF)
    assert ev.isStreaming
    # watermark shows up in the analyzed plan as an EventTimeWatermark node
    assert "EventTimeWatermark" in ev._jdf.queryExecution().analyzed().toString()
