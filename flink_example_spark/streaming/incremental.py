"""Incremental version-history maintenance over an event stream.

The batch operator (operators/versioned.py) computes a versioned table as a
cumulative event-time window. This module maintains the SAME relation
incrementally as events arrive — the streaming feature-cache population the
reference describes (App.java:45-46: "populate a cache of features ... as
new events arrive"), done watermark-correctly:

- arriving events buffer in per-key state (out-of-order tolerated within the
  watermark delay);
- once the watermark passes an event time, every buffered event at-or-before
  it is folded into the per-key running aggregate IN EVENT-TIME ORDER and
  one version row ``(key, _change_time, value)`` is emitted per distinct
  event time (ties collapse, matching the batch RANGE frame);
- the running aggregate carries exact decimal arithmetic (the values are
  cast to ``DECIMAL(18,2)`` in Spark, as in the batch history) so the
  emitted doubles are bit-identical to the batch history — the stream
  CONVERGES to ``version_history`` exactly, row for row.

State per key is O(watermark window), not O(history): emitted events are
folded into a single running value and dropped from the buffer.

At scale this runs per-key-partitioned with no shuffle beyond the one the
grouped aggregate needs anyway; swap ``applyInPandasWithState`` for
``transformWithStateInPandas`` to move state into the JVM store when
google.protobuf is available.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from flink_example_spark.streaming.staging import drain_to_table, read_chunks

_STATE_SCHEMA = StructType([StructField("pkl", BinaryType(), True)])


def incremental_version_history(
    events: DataFrame,
    key: str,
    time_col: str,
    value_col: str | None,
    agg: str = "sum",
    entity_alias: str = "_entity",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming version history of a grouped aggregate.

    ``events`` is a STREAMING DataFrame already filtered/projected to the
    relevant rows. ``agg``: 'sum' (decimal(18,2)-exact running sum of
    ``value_col``, emitted as double — matches
    ``version_history(aggs={out: F.sum(col.cast('decimal(18,2)'))}).cast
    ('double')``) or 'count' (running row count, emitted as long).

    Output schema: (entity_alias, _change_time timestamp, value) where value
    is ``loss_value`` double for sum / ``cnt`` long for count.
    """
    import pandas as pd

    if agg not in ("sum", "count"):
        raise ValueError(f"unknown agg {agg!r}")
    out_name = "loss_value" if agg == "sum" else "cnt"
    out_type = DoubleType() if agg == "sum" else LongType()
    output_schema = StructType(
        [
            StructField(entity_alias, events.schema[key].dataType),
            StructField("_change_time", TimestampType()),
            StructField(out_name, out_type),
        ]
    )

    v = F.col(value_col) if agg == "sum" else F.lit(1)
    src = events.select(
        F.col(key).alias("_k"),
        F.col(time_col).cast("timestamp").alias("_t"),
        v.cast("decimal(18,2)").alias("_v"),
    ).withWatermark("_t", watermark_delay)

    def process(
        k: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            cum_str, buffered = pickle.loads(state.get[0])
            cum = Decimal(cum_str)
        else:
            cum, buffered = Decimal(0), []

        for pdf in pdfs:
            buffered.extend(zip(pdf["_t"], pdf["_v"]))

        # Watermark guarantee is STRICT: an event at exactly wm can still
        # arrive, so only fold events strictly before wm — otherwise a late
        # tie would need a retraction of the already-emitted version row.
        wm_ms = state.getCurrentWatermarkMs()
        ready = [e for e in buffered if e[0].value // 1_000_000 < wm_ms]
        still = [e for e in buffered if e[0].value // 1_000_000 >= wm_ms]
        out_rows = []
        if ready:
            ready.sort(key=lambda e: e[0].value)
            # fold in event-time order; one version row per distinct time
            # (ties collapse — the batch RANGE-frame semantics)
            i = 0
            while i < len(ready):
                t = ready[i][0]
                while i < len(ready) and ready[i][0] == t:
                    cum += ready[i][1]
                    i += 1
                val = float(cum) if agg == "sum" else int(cum)
                out_rows.append((k[0], t, val))

        state.update((pickle.dumps((str(cum), still)),))
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=[f.name for f in output_schema.fields]
            )

    return src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_incremental_feature_history(
    spark, sf_dir: str, chunks: int = 3, agg: str = "sum"
) -> DataFrame:
    """Bounded replay of the harness event stream through
    ``incremental_version_history``; converges exactly to the batch
    ``feature_history`` (sum) / ``target_history`` (count) relation.

    Stages the relevant events as time-ordered files (arrival respects event
    order up to the micro-batch boundary), appends a per-key sentinel to
    advance the final watermark (Flink's MAX_WATERMARK flush — availableNow
    does not advance the watermark past the last batch), and filters the
    sentinel back out of the result.
    """
    import os
    import tempfile
    from datetime import timedelta

    from flink_example_spark.plans.events_demo import LOSS_TYPE, TARGET_TYPE, load_events
    from flink_example_spark.streaming.staging import split_chunks, stamp_chunk_mtimes

    ev = load_events(spark, sf_dir)
    etype = LOSS_TYPE if agg == "sum" else TARGET_TYPE
    src = ev.filter(F.col("event_type") == etype).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), F.col("value").cast("double").alias("value")
    )
    # scalar aggregates only — no row data ever reaches the driver
    lo_t, max_t = src.agg(F.min("ts"), F.max("ts")).first()
    sentinel = (
        src.select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.lit(max_t) + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    sentinel_cut = max_t + timedelta(hours=10)

    tmpdir = tempfile.mkdtemp(prefix="incr_hist_")
    split_chunks(src, "ts", chunks, tmpdir)
    # Two sentinel waves: the watermark in batch N reflects data through
    # batch N-1, so the FIRST sentinel batch still runs at wm = max real
    # event time (the strict-< gate parks the latest real event); the second
    # wave runs at wm = max_t + 10h and flushes it.
    sentinel.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmpdir, "chunk_8_sentinel")
    )
    sentinel.withColumn("ts", F.expr("ts + INTERVAL 10 HOURS")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(tmpdir, "chunk_9_sentinel"))
    # arrival order = chunk index via explicit mtimes (not write timing)
    stamp_chunk_mtimes(tmpdir)

    stream = read_chunks(spark, tmpdir, src.schema)
    hist = incremental_version_history(
        stream, key="user_id", time_col="ts", value_col="value", agg=agg
    )

    rows = drain_to_table(hist, "append")
    return rows.filter(F.col("_change_time") < F.lit(sentinel_cut))
