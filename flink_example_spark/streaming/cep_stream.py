"""Streaming CEP: the greedy funnel pattern maintained over a live event
stream — Flink-CEP-on-streams parity for ``operators/cep.py::funnel``.

Per-key state is the funnel frontier (the matched step times, <= k
integers), advanced by an ``applyInPandasWithState`` automaton: events are
processed in event-time order and each one either opens the funnel (first
step-1 event), advances it (next step, strictly later, within the
horizon), or is ignored. A completion row is emitted exactly once, at the
micro-batch where the final step matches — state then pins to "done".

Ordering contract: the automaton is exact when each key's events arrive in
event-time order ACROSS micro-batches (within a batch they are sorted
here). The bounded replay below stages chunks by event id — event-time
ordered in the harness data — so the replay converges EXACTLY to the
batch ``funnel`` and shares its DuckDB oracle. An unbounded deployment
with out-of-order arrival buffers events per key until the watermark
passes them (Flink CEP's approach) — that needs per-key ListState, a
``transformWithState`` port, which needs google.protobuf.

Scale: one shuffle on the key (the same exchange the batch frontier chain
needs, but paid once instead of k-1 times); state per key is O(k)
integers; the automaton is Arrow-batched Python (CEP step logic is not
expressible in append-mode SQL aggregates — conditional chained mins).
"""

from __future__ import annotations

import os
import pickle
import tempfile
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import (
    drain_to_table,
    read_chunks,
    stamp_chunk_mtimes,
)

_STATE_SCHEMA = StructType([StructField("pkl", BinaryType(), True)])


def _advance(frontier, events, steps, step_index, within_us, k):
    """Run the greedy automaton over time-ordered (us, et) pairs; mutate
    ``frontier`` in place and return the completed match (or None)."""
    for us, et in events:
        us = int(us)
        j = len(frontier)
        if j == 0:
            if et == steps[0]:
                frontier.append(us)
        elif step_index.get(et, -1) == j:
            if us > frontier[-1] and us <= frontier[0] + within_us:
                frontier.append(us)
                if len(frontier) == k:
                    return list(frontier)
    return None


def streaming_funnel(
    event_stream: DataFrame,
    steps: list[str],
    within_sec: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Update-mode funnel completions over a stream. Output: (key,
    u_1..u_k epoch-micros BIGINT, duration_us) — one row per completed
    key, emitted in the completing micro-batch.

    Default (``watermark_delay=None``): events must arrive in event-time
    order across micro-batches (sorted within each batch here).

    With ``watermark_delay``: FULL Flink-CEP out-of-order semantics —
    events buffer in per-key state and the automaton only consumes the
    prefix at or below the current watermark (which no later event can
    precede, as long as disorder stays within the delay). State is then
    O(k) frontier + the buffered events inside the watermark horizon
    (delay x per-key rate, the same bound Flink CEP's ListState carries).
    Events arriving below the watermark are late data and are dropped,
    exactly like Flink.
    """
    import pandas as pd

    k = len(steps)
    if k < 2:
        raise ValueError("funnel needs at least 2 steps")
    within_us = within_sec * 1_000_000
    out_fields = [StructField("key", LongType())]
    out_fields += [StructField(f"u_{i}", LongType()) for i in range(1, k + 1)]
    out_fields += [StructField("duration_us", LongType())]
    output_schema = StructType(out_fields)
    cols = [f.name for f in output_schema.fields]
    step_index = {s: i for i, s in enumerate(steps)}

    src = event_stream.withColumn("__ts_ltz", F.col(ts_col).cast("timestamp"))
    if watermark_delay is not None:
        src = src.withWatermark("__ts_ltz", watermark_delay)
    # the watermarked column must SURVIVE into applyInPandasWithState or
    # GroupState.getCurrentWatermarkMs raises CANNOT_WITHOUT
    keep_wm = ["__ts_ltz"] if watermark_delay is not None else []
    src = src.select(
        F.col(key_col).alias("_k"),
        F.unix_micros(F.col("__ts_ltz")).alias("_us"),
        F.col(type_col).alias("_et"),
        *keep_wm,
    ).filter(F.col("_et").isin(list(steps)))

    def emit(key, completed):
        if completed is None:
            return pd.DataFrame([], columns=cols)
        row = [key[0], *completed, completed[-1] - completed[0]]
        return pd.DataFrame([row], columns=cols)

    def process_ordered(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        # frontier: list of matched step micros (len == progress); done flag
        if state.exists:
            done, frontier = pickle.loads(state.get[0])
        else:
            done, frontier = False, []
        if done:
            # drain the iterator (contract) and keep state pinned
            for _ in pdfs:
                pass
            yield pd.DataFrame([], columns=cols)
            return
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values("_us", kind="mergesort")
        completed = _advance(
            frontier, zip(ev["_us"], ev["_et"]), steps, step_index, within_us, k
        )
        state.update((pickle.dumps((completed is not None, frontier)),))
        yield emit(key, completed)

    def process_buffered(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        # state: (done, frontier, buffered [(us, et), ...] above last wm).
        # A key is invoked when it has batch data OR its event-time timer
        # fires — the timer (set to the earliest buffered event) is what
        # flushes keys whose remaining events arrived in earlier batches,
        # exactly Flink CEP's event-time timer role.
        if state.exists:
            done, frontier, buf = pickle.loads(state.get[0])
        else:
            done, frontier, buf = False, [], []
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if done:
            for _ in pdfs:
                pass
            yield pd.DataFrame([], columns=cols)
            return
        for pdf in pdfs:
            # events below the watermark are LATE: dropped (Flink CEP rule)
            buf.extend(
                (int(u), e)
                for u, e in zip(pdf["_us"], pdf["_et"])
                if int(u) > wm_us
            )
        ready = sorted(e for e in buf if e[0] <= wm_us)
        buf = [e for e in buf if e[0] > wm_us]
        completed = _advance(frontier, ready, steps, step_index, within_us, k)
        state.update((pickle.dumps((completed is not None, frontier, buf)),))
        if completed is None and buf:
            # wake this key once the watermark passes its earliest
            # buffered event (must be strictly above the current wm)
            state.setTimeoutTimestamp(
                max(min(u for u, _ in buf) // 1000 + 1, wm_ms + 1)
            )
        yield emit(key, completed)

    if watermark_delay is None:
        process, tconf = process_ordered, GroupStateTimeout.NoTimeout
    else:
        process, tconf = process_buffered, GroupStateTimeout.EventTimeTimeout
    return src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=tconf,
    )


def run_streaming_funnel(
    spark: SparkSession,
    sf_dir: str,
    steps: list[str],
    within_sec: int,
    chunks: int = 3,
) -> DataFrame:
    """Bounded replay: stage the events table as event-time-ordered chunk
    files (id ranges; ids are time-ordered in the harness data), run the
    stateful funnel to completion, and return rows shaped exactly like the
    batch ``funnel`` (timestamps reconstructed from the exact micros)."""
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_cep_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        part = ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    out = streaming_funnel(stream, steps, within_sec)
    res = drain_to_table(out, "update")
    k = len(steps)
    ts_cols = [
        F.timestamp_micros(F.col(f"u_{i}")).cast("timestamp_ntz").alias(f"t_{i}")
        for i in range(1, k + 1)
    ]
    return res.select("key", *ts_cols, "duration_us")


def run_streaming_funnel_unordered(
    spark: SparkSession,
    sf_dir: str,
    steps: list[str],
    within_sec: int,
    n_chunks: int = 3,
    delay_days: int = 40,
) -> DataFrame:
    """OUT-OF-ORDER bounded replay: chunks interleave by day-of-month, so
    arrival order bears no relation to event time (maximum disorder); the
    watermark delay covers the full span, so every event buffers in state
    and the automaton consumes it only once the watermark passes it — the
    full Flink-CEP late-data model. Two sentinel waves (far-future events
    on a negative key, stripped from the output) lift the watermark past
    max_ts + delay to flush the buffers: wave N's batch runs with the
    watermark computed from wave N-1 (DESIGN.md round 2).

    Converges EXACTLY to the batch ``funnel`` — same oracle as the
    in-order replay."""
    import datetime

    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_cep_ooo_")
    for i in range(n_chunks):
        part = ev.filter(F.dayofmonth("ts") % n_chunks == i)
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    mx = ev.agg(F.max("ts")).first()[0]
    for w in (1, 2):
        st = mx + datetime.timedelta(days=delay_days + w)
        sdf = spark.createDataFrame(
            [(-w, st, -1, steps[0], 0.0, "{}")], ev.schema
        )
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{n_chunks - 1 + w}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    out = streaming_funnel(
        stream, steps, within_sec, watermark_delay=f"{delay_days} days"
    )
    res = drain_to_table(out, "update").filter(F.col("key") >= 0)
    k = len(steps)
    ts_cols = [
        F.timestamp_micros(F.col(f"u_{i}")).cast("timestamp_ntz").alias(f"t_{i}")
        for i in range(1, k + 1)
    ]
    return res.select("key", *ts_cols, "duration_us")


def streaming_bursts(
    event_stream: DataFrame,
    event_type: str,
    n: int,
    within_sec: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """`times(n).within(w)` alerting over a live stream: per-key state is
    the matching events inside the trailing window (bounded by
    within_sec x per-key rate); each arriving event evicts the expired
    prefix and alerts when the window holds >= n. Same in-order contract
    as the ordered funnel; timestamp TIES are processed as a group so the
    count matches the batch range frame (ties sit in each other's frame).
    Output: (key, event_id, u epoch-micros, n_in_window)."""
    import pandas as pd

    within_us = within_sec * 1_000_000
    output_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("event_id", LongType()),
            StructField("u", LongType()),
            StructField("n_in_window", LongType()),
        ]
    )
    cols = [f.name for f in output_schema.fields]
    src = (
        event_stream.filter(F.col(type_col) == event_type)
        .select(
            F.col(key_col).alias("_k"),
            F.col(id_col).alias("_id"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        )
    )

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        buf = pickle.loads(state.get[0]) if state.exists else []
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values(["_us", "_id"], kind="mergesort")
        rows = []
        # group timestamp ties: every tie member counts every other
        pending = list(zip(ev["_us"].astype(int), ev["_id"].astype(int)))
        i = 0
        while i < len(pending):
            j = i
            while j < len(pending) and pending[j][0] == pending[i][0]:
                j += 1
            us = pending[i][0]
            buf = [u for u in buf if u >= us - within_us]
            count = len(buf) + (j - i)
            if count >= n:
                for _, eid in pending[i:j]:
                    rows.append([key[0], eid, us, count])
            buf.extend(u for u, _ in pending[i:j])
            i = j
        state.update((pickle.dumps(buf),))
        yield pd.DataFrame(rows, columns=cols)

    return src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_bursts(
    spark: SparkSession,
    sf_dir: str,
    event_type: str,
    n: int,
    within_sec: int,
    chunks: int = 3,
) -> DataFrame:
    """Bounded time-ordered replay of the burst alerter; converges exactly
    to the batch ``event_bursts`` (same output shape, shared oracle)."""
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_burst_")
    total = ev.count()
    per = (total + chunks - 1) // chunks
    for i in range(chunks):
        part = ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    out = streaming_bursts(stream, event_type, n, within_sec)
    return drain_to_table(out, "update").select(
        "key",
        "event_id",
        F.timestamp_micros(F.col("u")).cast("timestamp_ntz").alias("ts"),
        "n_in_window",
    )
