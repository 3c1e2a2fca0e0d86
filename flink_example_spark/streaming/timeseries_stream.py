"""STREAMING OHLC bars: the per-(key, bucket) open/high/low/close rollup
maintained live over the event stream.

Every component of the bar is a commutative aggregate with a bounded merge
(min_by/max_by over the deterministic order key, min/max, count, decimal
sum), so the whole rollup is ONE pure-JVM streaming aggregation — complete
output mode, no watermark, no Python state — and converges to the batch
:func:`~flink_example_spark.operators.timeseries.ohlc_bars` result under
any arrival order. State is one bar per (key, bucket): the compacted
downsample IS the state, which is exactly why OHLC is the rollup metric
stores run at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.pipeline import stream_events
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_ohlc(
    spark: SparkSession, sf_dir: str, bucket: str = "day"
) -> DataFrame:
    """Bounded replay of the event stream through the live OHLC aggregate;
    hash-identical to batch ``timeseries_ohlc`` (shares its oracle)."""
    tune(spark)
    ev = stream_events(spark, sf_dir)
    t = F.col("ts")
    ok = F.concat(
        F.lpad(F.unix_micros(t.cast("timestamp")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    v = F.col("value")
    bars = ev.groupBy(
        F.col("user_id").alias("_entity"), F.date_trunc(bucket, t).alias("bar_ts")
    ).agg(
        F.min_by(v, ok).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, ok).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("vol_sum"),
    )
    return drain_to_table(bars, "complete")


def run_streaming_rolling_actives(
    spark: SparkSession, sf_dir: str, window_days: int = 7
) -> DataFrame:
    """STREAMING trailing-7-day actives: the distinct (user, day) activity
    relation is the ONLY state a WAU metric needs — maintained live with
    ``dropDuplicates`` (first-seen per pair is deterministic BECAUSE the
    emitted row carries nothing but the key itself, dodging the
    dropDuplicates-arbitrary-row hazard in DESIGN.md); the window fan-out
    and distinct count run over the converged (user, day) table at read
    time (user·day-sized, not event-sized).

    Production note: unbounded streams bound this state with
    ``dropDuplicatesWithinWatermark`` on the day column (old days stop
    accepting late activity) — the bounded replay needs no watermark.
    Converges to batch ``rolling_active_users`` → shares its oracle.
    """
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    ud = ev.select(
        F.col("user_id").alias("__u"), F.date_trunc("day", F.col("ts")).alias("__d")
    ).dropDuplicates(["__u", "__d"])
    t = drain_to_table(ud, "append")
    mx = t.agg(F.max("__d").alias("__mx"))
    grid = t.select(
        "__u",
        "__d",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__i"),
    ).select("__u", F.expr("timestampadd(DAY, __i, __d)").alias("report_day"))
    return (
        grid.crossJoin(F.broadcast(mx))
        .filter(F.col("report_day") <= F.col("__mx"))
        .groupBy("report_day")
        .agg(F.count_distinct("__u").alias("n_active"))
    )


def streaming_cusum(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    h: float,
    target: float,
    scale: int = 1000,
) -> DataFrame:
    """Live one-sided CUSUM against a FIXED target — the textbook online
    recurrence ``S = max(0, S + (v - target))`` folded per key by an
    ``applyInPandasWithState`` automaton (the recurrence is sequential by
    nature; batch mode rewrites it as prefix sums, a stream just... runs
    it). State per key is five integers. Rows are folded in event-time
    order within each micro-batch; exactness across batches needs in-order
    arrival per key (the bounded replay below stages chunks in id order —
    out-of-order deployments buffer behind a watermark, the cep_stream
    pattern).

    Emits one versioned summary row per key per batch (update mode); the
    max-version row per key equals batch
    ``cusum_changepoints(target=...)`` exactly — shares its oracle.
    """
    import pickle
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tq = int(target * scale + 0.5)
    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("version", LongType()),
            StructField("n", LongType()),
            StructField("n_alarms", LongType()),
            StructField("first_alarm_us", LongType(), True),
            StructField("max_s", LongType()),
        ]
    )
    src = stream.select(
        F.col(key_col).cast("string").alias("_k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(seq_col).cast("long").alias("_seq"),
        F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("_vq"),
    ).filter(F.col("_vq").isNotNull())

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            version, s, n, n_alarms, first_us, max_s = pickle.loads(state.get[0])
        else:
            version, s, n, n_alarms, first_us, max_s = 0, 0, 0, 0, None, 0
        rows = pd.concat(list(pdfs)).sort_values(["_us", "_seq"])
        for us, vq in zip(rows["_us"], rows["_vq"]):
            s = max(0, s + int(vq) - tq)
            n += 1
            max_s = max(max_s, s)
            if float(s) > h * scale:
                n_alarms += 1
                if first_us is None:
                    first_us = int(us)
        version += 1
        state.update((pickle.dumps((version, s, n, n_alarms, first_us, max_s)),))
        yield pd.DataFrame(
            [(key[0], version, n, n_alarms, first_us, max_s)],
            columns=[f.name for f in output_schema.fields],
        )

    return src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_cusum(
    spark: SparkSession,
    sf_dir: str,
    h: float,
    target: float,
    scale: int = 1000,
    chunks: int = 3,
) -> DataFrame:
    """Bounded in-order replay of the event stream through the live CUSUM
    fold; the final row per key is hash-identical to batch
    ``cusum_changepoints(events, 'event_type', ..., target=...)``."""
    import os
    import tempfile

    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_cusum_")
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
    stream_src = read_chunks(spark, tmpdir, ev.schema)
    out = streaming_cusum(
        stream_src, "event_type", "ts", "value", "event_id", h=h, target=target,
        scale=scale,
    )
    final = spark.sql(
        """SELECT k, n, n_alarms, first_alarm_us, max_s FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) rn
              FROM {t}
            ) WHERE rn = 1""",
        t=drain_to_table(out, "update"),
    )
    return final.select(
        F.col("k").alias("event_type"),
        "n",
        "n_alarms",
        F.timestamp_micros(F.col("first_alarm_us")).alias("first_alarm_ts"),
        (F.col("max_s").cast("double") / F.lit(float(scale))).alias("max_stat"),
    )


def streaming_ewma(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Live truncated EWMA (alpha = 1/2): per-key state is just the last
    ``_EWMA_H + 1`` quantized observations — the truncation that buys
    batch/stream bit-exactness also bounds streaming state to 8 integers
    per key, which is exactly why production smoothers truncate. Each
    observation is emitted once with its smoothed value; in-order replay
    converges row-for-row to batch ``ewma_smooth`` (shares its oracle).
    """
    import pickle
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from flink_example_spark.operators.timeseries import _EWMA_H

    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("us", LongType()),
            StructField("v", DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    src = stream.select(
        F.col(key_col).cast("long").alias("_k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(seq_col).cast("long").alias("_seq"),
        F.col(value_col).cast("double").alias("_v"),
        F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("_vq"),
    ).filter(F.col("_vq").isNotNull())

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        hist: list[int] = pickle.loads(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdfs)).sort_values(["_us", "_seq"])
        out = []
        for us, v, vq in zip(rows["_us"], rows["_v"], rows["_vq"]):
            hist.append(int(vq))
            hist = hist[-(_EWMA_H + 1):]
            num = den = 0
            for idx, q in enumerate(reversed(hist)):
                w = 1 << (_EWMA_H - idx)
                num += q * w
                den += w
            out.append((key[0], int(us), float(v), num / (den * scale)))
        state.update((pickle.dumps(hist),))
        yield pd.DataFrame(out, columns=[f.name for f in output_schema.fields])

    return src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_ewma(
    spark: SparkSession, sf_dir: str, scale: int = 1000, chunks: int = 3
) -> DataFrame:
    """Bounded in-order replay through the live EWMA; row-identical to
    batch ``ewma_smooth(events, 'user_id', ...)`` — shares its oracle."""
    import os
    import tempfile

    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_ewma_")
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
    stream_src = read_chunks(spark, tmpdir, ev.schema)
    out = streaming_ewma(stream_src, "user_id", "ts", "value", "event_id", scale=scale)
    return drain_to_table(out, "update").select(
        F.col("k").alias("user_id"),
        F.timestamp_micros(F.col("us")).alias("ts"),
        F.col("v").alias("value"),
        "ewma",
    )


def run_streaming_rate_limit(
    spark: SparkSession, sf_dir: str, limit: int, chunks: int = 3
) -> DataFrame:
    """STREAMING quota audit: the per-(key, day) count is a sum monoid, so
    the whole rate-limit relation maintains as ONE complete-mode JVM
    aggregation (no watermark, no Python state); the day rollup runs over
    the converged key-day table at read time. Converges to batch
    ``rate_limit_audit`` under any arrival order — shares its oracle."""
    import os
    import tempfile

    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_rl_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    per_key = (
        stream.select(
            F.col("user_id").alias("k"),
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        drain_to_table(per_key, "complete")
        .groupBy("day")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum(F.greatest(F.lit(0), F.col("n") - limit)).alias("n_throttled"),
            F.sum((F.col("n") > limit).cast("bigint")).alias("n_keys_over"),
        )
    )


def run_streaming_session_stats(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """STREAMING session-duration stats: the state store MERGES adjacent
    per-key session windows live (complete mode for the bounded replay);
    the duration/percentile summary runs over the converged session table
    at read time. Converges to batch ``session_stats`` — shares its
    gaps-and-islands-pinned oracle."""
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    gap = f"{gap_minutes} minutes"
    sessions = (
        ev.groupBy(
            F.session_window("ts", gap).alias("w"),
            F.col("event_type").alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "k",
            "n",
            (
                (
                    F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))
                ).cast("double")
                / F.lit(1e6)
            ).alias("dur_s"),
        )
    )
    return (
        drain_to_table(sessions, "complete")
        .groupBy(F.col("k").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
            (F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_events"),
            F.percentile(F.col("dur_s"), F.lit(0.5)).alias("p50_duration_s"),
            F.max("dur_s").alias("max_duration_s"),
        )
    )


def run_streaming_bollinger(
    spark: SparkSession,
    sf_dir: str,
    window_rows: int = 20,
    k_num: int = 2,
    scale: int = 1000,
    chunks: int = 3,
) -> DataFrame:
    """STREAMING Bollinger breakouts: per-key state is the last
    ``window_rows`` quantized values (a bounded deque — the envelope's
    natural online form); each arrival evaluates the same cross-
    multiplied integer test. In-order bounded replay; the max-version
    row per key equals batch ``bollinger_breakouts`` — shares its
    oracle."""
    import os
    import pickle
    import tempfile
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_boll_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("version", LongType()),
            StructField("n", LongType()),
            StructField("n_up", LongType()),
            StructField("n_down", LongType()),
            StructField("first_us", LongType(), True),
        ]
    )
    src = stream.select(
        F.col("event_type").alias("_k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.col("event_id").cast("long").alias("_seq"),
        F.floor(F.col("value") * scale + F.lit(0.5)).cast("bigint").alias("_vq"),
    ).filter(F.col("_vq").isNotNull())
    k2 = k_num * k_num

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            version, hist, n_obs, n_up, n_down, first_us = pickle.loads(state.get[0])
        else:
            version, hist, n_obs, n_up, n_down, first_us = 0, [], 0, 0, 0, None
        rows = pd.concat(list(pdfs)).sort_values(["_us", "_seq"])
        for us, vq in zip(rows["_us"], rows["_vq"]):
            vq = int(vq)
            hist.append(vq)
            hist = hist[-window_rows:]
            if len(hist) == window_rows:
                n_obs += 1
                s1 = sum(hist)
                s2 = sum(x * x for x in hist)
                dev = window_rows * vq - s1
                var_n2 = window_rows * s2 - s1 * s1
                hit = dev * dev > k2 * var_n2
                if hit and dev > 0:
                    n_up += 1
                elif hit and dev < 0:
                    n_down += 1
                if hit and first_us is None:
                    first_us = int(us)
        version += 1
        state.update(
            (pickle.dumps((version, hist, n_obs, n_up, n_down, first_us)),)
        )
        yield pd.DataFrame(
            [(key[0], version, n_obs, n_up, n_down, first_us)],
            columns=[f.name for f in output_schema.fields],
        )

    out = src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return spark.sql(
        """SELECT k AS event_type, n, n_up AS n_breakout_up,
                   n_down AS n_breakout_down,
                   timestamp_micros(first_us) AS first_breakout_ts
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) rn
              FROM {t}
            ) WHERE rn = 1""",
        t=drain_to_table(out, "update"),
    )


def run_streaming_survival(
    spark: SparkSession, sf_dir: str, horizon_days: int = 7
) -> DataFrame:
    """LIVE survival maintenance: per-user (first, last) activity spans
    are min/max monoids, so the churn table's ONLY stateful ingredient
    runs as one complete-mode aggregate (state = two BIGINTs per user);
    risk sets, censoring against the moving corpus end, and the
    quantized Nelson-Aalen cumulative hazard are read-time windows over
    the key-sized span relation. Converges exactly to batch
    ``survival_table`` (shared oracle)."""
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    spans = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    )
    day_us = 86400 * 1_000_000
    return spark.sql(
        """
        WITH e AS (SELECT MAX(hi) AS span_end FROM {t}),
        lt AS (
          SELECT (hi - lo) div {day_us} AS t_days,
                 hi <= span_end - {horizon_us} AS observed
          FROM {t} CROSS JOIN e
        ),
        per_t AS (
          SELECT t_days,
                 CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_events,
                 CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
                   AS c_censored
          FROM lt GROUP BY t_days
        ),
        risked AS (
          SELECT t_days, d_events, c_censored,
                 CAST(SUM(d_events + c_censored) OVER (ORDER BY t_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n_risk
          FROM per_t
        )
        SELECT t_days, n_risk, d_events, c_censored,
               CAST(SUM((d_events * 1000000) div n_risk) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS na_cum_micro,
               CAST(SUM((d_events * 1000000) div n_risk) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1e6 AS cum_hazard
        FROM risked
        """,
        t=drain_to_table(spans, "complete"),
        day_us=day_us,
        horizon_us=horizon_days * day_us,
    )


def streaming_interval_merge(
    src: DataFrame,
    key_col: str = "key",
) -> DataFrame:
    """Update-mode per-key interval-union state: the disjoint island set is
    an IDEMPOTENT, commutative monoid under interval union (merging
    overlaps), so arrival order and duplication don't matter and no
    watermark is needed — the live form of the uptime/coverage rollup
    ``operators.timeseries.interval_merge`` computes in batch.

    ``src`` columns: (key, s, e) integer micros. State per key is the
    pickled (version, n_intervals, [(s, e)...]) disjoint sorted list —
    O(islands), not O(intervals). Emits one row per key per micro-batch;
    the max-version row equals the batch operator's output for the data
    seen so far."""
    import pickle

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    output_schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField("version", LongType()),
            StructField("n_intervals", LongType()),
            StructField("n_islands", LongType()),
            StructField("covered_us", LongType()),
            StructField("max_island_us", LongType()),
        ]
    )
    state_schema = StructType([StructField("pkl", BinaryType(), True)])

    def process(key, pdfs, state: GroupState):
        if state.exists:
            version, n_int, islands = pickle.loads(state.get[0])
        else:
            version, n_int, islands = 0, 0, []
        new = []
        for pdf in pdfs:
            new.extend(zip((int(x) for x in pdf["s"]), (int(x) for x in pdf["e"])))
        n_int += len(new)
        merged = []
        for s, e in sorted(islands + new):
            if merged and s <= merged[-1][1]:
                if e > merged[-1][1]:
                    merged[-1] = (merged[-1][0], e)
            else:
                merged.append((s, e))
        version += 1
        state.update((pickle.dumps((version, n_int, merged)),))
        covered = sum(e - s for s, e in merged)
        mx = max((e - s for s, e in merged), default=0)
        yield pd.DataFrame(
            [(key[0], version, n_int, len(merged), covered, mx)],
            columns=[f.name for f in output_schema.fields],
        )

    return src.groupBy(key_col).applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events stream through the interval-union
    state; the max-version row per user equals batch
    ``interval_merge(events)`` — shares its oracle."""
    tune(spark)
    ev = stream_events(spark, sf_dir)
    src = ev.filter(F.col("value").isNotNull()).select(
        F.col("user_id").cast("bigint").alias("key"),
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + F.expr("CAST(floor(value * 60000000 + 0.5) AS BIGINT)")
        ).alias("e"),
    )
    out = streaming_interval_merge(src, "key")
    return spark.sql(
        "SELECT key, n_intervals, n_islands, covered_us, max_island_us FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY version DESC) rn"
        "  FROM {t}"
        ") WHERE rn = 1",
        t=drain_to_table(out, "update"),
    )


def run_streaming_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Granger-causality screen: the ONLY stateful ingredient of the
    pairwise lead/lag scan is the per-(key, day) centi-quantized sum — a
    plain integer monoid — so the stream is ONE complete-mode JVM
    aggregation (no watermark, no Python); the pair alignment, lag
    windows, Cramer solves, and exact-integer SSE comparison run at READ
    time via the identical batch expressions
    (:func:`operators.timeseries.granger_from_daily`). Bounded replay
    converges to batch ``granger_screen`` exactly (shared oracle)."""
    from flink_example_spark.operators.timeseries import granger_from_daily
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    day_us = 86_400_000_000
    daily = (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    sums = drain_to_table(daily, "complete")
    return granger_from_daily(sums.localCheckpoint(eager=True))


def run_streaming_holt(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE Holt level+trend smoothing — the sequential recurrence the
    batch operator runs as a recursive CTE, here maintained as per-key
    streaming state: (l, b) in exact micro-unit integers over CLOSED
    days, plus the currently-accumulating day's sum. A day closes when a
    later day's first event arrives (the daily sum must be complete
    before it can fold — the watermark-free variant of window closing,
    valid because the replay is in event-time order); every emission
    also projects the PENDING day folded in, so the max-version row per
    key equals batch ``holt_forecast`` exactly (shared oracle).

    Same trunc-div quarters as the batch recurrence — bit-identical
    state at every step."""
    import os
    import pickle
    import tempfile
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    day_us = 86_400_000_000
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_holt_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    src = stream.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("_k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.col("event_id").cast("long").alias("_seq"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("_vq"),
    )

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def fold(l, b, n_closed, s):
        if n_closed == 0:
            return s * 1_000_000, 0
        lnew = tdiv(s * 1_000_000 + 3 * (l + b), 4)
        return lnew, tdiv((lnew - l) + 3 * b, 4)

    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("version", LongType(), False),
            StructField("n_days", LongType(), False),
            StructField("level_centi", LongType(), False),
            StructField("trend_centi", LongType(), False),
            StructField("forecast_centi", LongType(), False),
        ]
    )

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            version, l, b, n_closed, cur_day, cur_sum = pickle.loads(
                state.get[0]
            )
        else:
            version, l, b, n_closed, cur_day, cur_sum = 0, 0, 0, 0, None, 0
        rows = pd.concat(list(pdfs)).sort_values(["_us", "_seq"])
        for us, vq in zip(rows["_us"], rows["_vq"]):
            day = int(us) // day_us
            if cur_day is None:
                cur_day, cur_sum = day, int(vq)
            elif day == cur_day:
                cur_sum += int(vq)
            else:
                l, b = fold(l, b, n_closed, cur_sum)
                n_closed += 1
                cur_day, cur_sum = day, int(vq)
        version += 1
        state.update(
            (pickle.dumps((version, l, b, n_closed, cur_day, cur_sum)),)
        )
        if cur_day is not None:
            lf, bf = fold(l, b, n_closed, cur_sum)
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        version,
                        n_closed + 1,
                        tdiv(lf, 1_000_000),
                        tdiv(bf, 1_000_000),
                        tdiv(lf + bf, 1_000_000),
                    )
                ],
                columns=[f.name for f in output_schema.fields],
            )

    out = src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return spark.sql(
        """SELECT k AS key, n_days, level_centi, trend_centi, forecast_centi
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) rn
              FROM {t}
            ) WHERE rn = 1""",
        t=drain_to_table(out, "update"),
    )


def run_streaming_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gap-filled resample: the daily-sum count monoid is the only
    stateful ingredient (one complete-mode JVM aggregation); the dense
    per-key grid, the LOCF carry-forward window, and the is_filled audit
    column are read-time projections over the key x day relation —
    identical expressions to batch ``timeseries.locf_fill`` (shared
    oracle)."""
    from pyspark.sql import Window

    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    day_us = 86_400_000_000
    daily = (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    d = drain_to_table(daily, "complete").localCheckpoint(eager=True)
    spans = d.groupBy("key").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = spans.select("key", F.explode(F.expr("sequence(lo, hi)")).alias("day"))
    joined = grid.join(d, ["key", "day"], "left")
    w = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "key",
        F.col("day").cast("long").alias("day"),
        F.last("vq", ignorenulls=True).over(w).alias("value_centi"),
        F.col("vq").isNull().cast("long").alias("is_filled"),
    )


def _daily_sum_sink(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """Shared live ingredient of the spectral/DTW/Granger/LOCF family:
    the per-(key, day) centi-quantized sum monoid as ONE complete-mode
    aggregation, returned as a read-time (key, day, vq) frame."""
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    day_us = 86_400_000_000
    daily = (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("key"),
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    return drain_to_table(daily, "complete").localCheckpoint(eager=True)


def run_streaming_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE dominant-cycle monitor: daily-sum monoid in state; the
    embedded-cosine DCT, centering, and argmax run at read time over the
    key x day relation via a tiny batch replay of the same expressions
    (= batch ``spectral_peak``, shared oracle)."""
    from flink_example_spark.operators.timeseries import spectral_peak

    d = _daily_sum_sink(spark, sf_dir, "stream_spectral")
    # rebuild a synthetic event-grain frame the batch operator accepts:
    # one row per (key, day) with the day's sum as the value and the
    # day-start timestamp (the daily re-aggregation inside the operator
    # is then the identity)
    synth = d.select(
        F.col("key").alias("event_type"),
        F.timestamp_micros(F.col("day") * 86_400_000_000).alias("ts"),
        (F.col("vq").cast("double") / 100.0).alias("value"),
    )
    return spectral_peak(synth, "event_type", "ts", "value")


def run_streaming_dtw_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE KPI-alignment monitor: the same daily-sum monoid feeds the
    batch DTW at read time (= batch ``dtw_matrix``, shared oracle)."""
    from flink_example_spark.operators.timeseries import dtw_matrix

    d = _daily_sum_sink(spark, sf_dir, "stream_dtw")
    synth = d.select(
        F.col("key").alias("event_type"),
        F.timestamp_micros(F.col("day") * 86_400_000_000).alias("ts"),
        (F.col("vq").cast("double") / 100.0).alias("value"),
    )
    return dtw_matrix(synth, "event_type", "ts", "value")


def run_streaming_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE drawdown monitor: the daily-sum monoid streams (shared
    ``_daily_sum_sink``); the cumulative path, high-water mark, and
    argmax trough run at read time — identical expressions to batch
    ``max_drawdown`` (shared oracle)."""
    from flink_example_spark.operators.timeseries import max_drawdown

    d = _daily_sum_sink(spark, sf_dir, "stream_dd")
    synth = d.select(
        F.col("key").alias("event_type"),
        F.timestamp_micros(F.col("day") * 86_400_000_000).alias("ts"),
        (F.col("vq").cast("double") / 100.0).alias("value"),
    )
    return max_drawdown(synth, "event_type", "ts", "value")


def run_streaming_rolling_slope(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE trailing-trend monitor: the per-(key, day) centi-sum is the
    only state — a sum monoid in ONE update-mode JVM aggregation; the
    trailing-window OLS algebra (exact BIGINT frame sums, sign-safe
    milli division) runs at read time over the sink. Converges exactly
    to batch ``timeseries.rolling_slope`` (shared oracle)."""
    from pyspark.sql import Window as W

    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    day_us = 86_400_000_000
    k = 7
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    daily = (
        stream.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"),
            F.expr(
                f"unix_micros(CAST(ts AS TIMESTAMP)) div {day_us}"
            ).alias("day"),
        )
        .agg(
            F.sum(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            ).alias("vq")
        )
    )
    # sums only grow across replayed batches (values are positive):
    # final per (key, day) = max
    from flink_example_spark.operators.timeseries import (
        rolling_slope_from_daily,
    )

    latest = (
        drain_to_table(daily, "update")
        .groupBy("key", "day")
        .agg(F.max("vq").alias("vq"))
    )
    return rolling_slope_from_daily(latest, k)


def run_streaming_ccf(
    spark: SparkSession, sf_dir: str, max_lag: int = 6
) -> DataFrame:
    """LIVE lead-lag monitor: the only streaming state is the tagged
    hourly bucket-count monoid for the two series (ONE update-mode JVM
    aggregation); centering, the lag-explode pairing and the
    num/sqrt(da*db) boundary (``timeseries.ccf_from_counts``) run at
    read time over the sink. BIT-equal to the batch ``timeseries_ccf``
    (shared oracle) — the "are errors leading purchase drops?" alarm
    kept hot at ingest."""
    from flink_example_spark.operators.timeseries import ccf_from_counts

    tune(spark)
    ev = stream_events(spark, sf_dir)
    step_us = 3600 * 1_000_000
    counts = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {step_us}").alias("b"),
            F.when(F.expr("event_type = 'error'"), F.lit("a"))
            .when(F.expr("event_type = 'purchase'"), F.lit("b"))
            .alias("series"),
        )
        .filter(F.col("series").isNotNull())
        .groupBy("series", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    latest = drain_to_table(counts, "update").groupBy("series", "b").agg(
        F.max("x").alias("x")
    )
    return ccf_from_counts(latest, max_lag=max_lag)


def run_streaming_cox(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE churn-hazard monitor: the only streaming state is the
    per-user ``(first_ts, last_ts, error-share counts)`` min/max/sum
    monoid (ONE update-mode JVM aggregation, user-cardinality-sized);
    censoring, durations, the at-risk closure and the Breslow descent
    (``timeseries.cox_fit``) all run at read time over the sink.
    BIT-equal to the batch ``timeseries_cox`` (shared oracle) — the
    hazard-ratio estimate a retention dashboard keeps hot as events
    arrive."""
    from flink_example_spark.operators.timeseries import cox_fit
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    per = stream.groupBy("user_id").agg(
        F.expr("min(unix_micros(cast(ts as timestamp)))").alias("first_us"),
        F.expr("max(unix_micros(cast(ts as timestamp)))").alias("last_us"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("ne"),
        F.count(F.lit(1)).alias("nt"),
    )
    # update-mode sink keeps every emitted version; first only shrinks,
    # the rest only grow — take the per-user envelope
    latest = drain_to_table(per, "update").groupBy("user_id").agg(
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
        F.max("ne").alias("ne"),
        F.max("nt").alias("nt"),
    )
    cmax = latest.agg(F.max("last_us").alias("cm"))
    units = latest.crossJoin(F.broadcast(cmax)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("dur_h"),
        F.expr("CAST(last_us <= cm - 86400000000 AS INT)").cast("long").alias("d"),
        F.expr("CAST(ne * 5 >= nt AS INT)").cast("long").alias("x"),
    )
    return cox_fit(units, "dur_h", "d", "x")


def run_streaming_cox_multi(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE multivariate churn-hazard monitor: same per-user envelope
    monoid as :func:`run_streaming_cox` with one extra count (purchase
    share) in the SAME update-mode aggregation, feeding the stratified
    :func:`~flink_example_spark.operators.timeseries.cox_fit_multi`
    descent at read time — "is error exposure raising churn hazard,
    controlling for engagement, live". BIT-equal to the batch
    ``timeseries_cox_multi`` (shared oracle)."""
    from flink_example_spark.operators.timeseries import cox_fit_multi
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    per = stream.groupBy("user_id").agg(
        F.expr("min(unix_micros(cast(ts as timestamp)))").alias("first_us"),
        F.expr("max(unix_micros(cast(ts as timestamp)))").alias("last_us"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("ne"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
        F.count(F.lit(1)).alias("nt"),
    )
    latest = drain_to_table(per, "update").groupBy("user_id").agg(
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
        F.max("ne").alias("ne"),
        F.max("np").alias("np"),
        F.max("nt").alias("nt"),
    )
    cmax = latest.agg(F.max("last_us").alias("cm"))
    units = latest.crossJoin(F.broadcast(cmax)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("dur_h"),
        F.expr("CAST(last_us <= cm - 86400000000 AS INT)").cast("long").alias("d"),
        F.expr("CAST(ne * 5 >= nt AS INT)").cast("long").alias("x_err"),
        F.expr("CAST(np * 5 >= nt AS INT)").cast("long").alias("x_buy"),
    )
    return cox_fit_multi(units, "dur_h", "d", ["x_err", "x_buy"])


def run_streaming_cox_banded(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE dose-response hazard monitor: the per-user envelope monoid
    (first/last timestamp + error count) feeds the banded stratified
    descent (:func:`~flink_example_spark.operators.timeseries
    .cox_fit_banded`) at read time — "is the churn hazard rising with
    error COUNT, live". BIT-equal to batch ``timeseries_cox_banded``
    (shared oracle)."""
    from flink_example_spark.operators.timeseries import cox_fit_banded
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    per = stream.groupBy("user_id").agg(
        F.expr("min(unix_micros(cast(ts as timestamp)))").alias("first_us"),
        F.expr("max(unix_micros(cast(ts as timestamp)))").alias("last_us"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("ne"),
    )
    latest = drain_to_table(per, "update").groupBy("user_id").agg(
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
        F.max("ne").alias("n_err"),
    )
    cmax = latest.agg(F.max("last_us").alias("cm"))
    units = latest.crossJoin(F.broadcast(cmax)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("dur_h"),
        F.expr("CAST(last_us <= cm - 86400000000 AS INT)").cast("long").alias("d"),
        "n_err",
    )
    return cox_fit_banded(units, "dur_h", "d", "n_err", lo=0, width=5, n_bands=8)


def run_streaming_cox_adj(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE adjusted dose-response monitor: one envelope monoid carrying
    first/last timestamps, error count AND purchase share, feeding the
    stratified :func:`~flink_example_spark.operators.timeseries
    .cox_fit_banded_adj` descent at read time. BIT-equal to the batch
    ``timeseries_cox_adj`` (shared oracle)."""
    from flink_example_spark.operators.timeseries import cox_fit_banded_adj
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    per = stream.groupBy("user_id").agg(
        F.expr("min(unix_micros(cast(ts as timestamp)))").alias("first_us"),
        F.expr("max(unix_micros(cast(ts as timestamp)))").alias("last_us"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("ne"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
        F.count(F.lit(1)).alias("nt"),
    )
    latest = drain_to_table(per, "update").groupBy("user_id").agg(
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
        F.max("ne").alias("n_err"),
        F.max("np").alias("np"),
        F.max("nt").alias("nt"),
    )
    cmax = latest.agg(F.max("last_us").alias("cm"))
    units = latest.crossJoin(F.broadcast(cmax)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("dur_h"),
        F.expr("CAST(last_us <= cm - 86400000000 AS INT)").cast("long").alias("d"),
        "n_err",
        F.expr("CAST(np * 5 >= nt AS INT)").cast("long").alias("x_buy"),
    )
    return cox_fit_banded_adj(
        units, "dur_h", "d", "n_err", lo=0, width=5, z_cols=["x_buy"],
        n_bands=8,
    )


def run_streaming_rmst(
    spark: SparkSession, sf_dir: str, tau_days: int = 30
) -> DataFrame:
    """LIVE restricted-mean-survival monitor: the per-user span monoid
    of :func:`run_streaming_survival` plus the read-time
    Fleming-Harrington curve + RMST integral
    (:func:`~flink_example_spark.operators.timeseries._rmst_from_survival`)
    — the retention KPI a dashboard keeps hot as events arrive.
    Converges exactly to batch ``timeseries_rmst`` (shared oracle)."""
    from flink_example_spark.operators.timeseries import _rmst_from_survival

    return _rmst_from_survival(
        run_streaming_survival(spark, sf_dir), tau_days
    )
