"""Time-series regularization: resample-to-grid with forward-fill and
linear interpolation, plus gap detection — the feature-store shape for
turning irregular event streams into fixed-step model inputs.

Reference parity note: the reference engine's temporal surface (event-time
windows, as-of joins — App.java:143-234) consumes IRREGULAR event times;
resampling is the complementary op a training pipeline needs to feed
fixed-step models (RNN features, rolling windows at a constant stride).

Engine portability: ALL time math runs in integer epoch micros
(``unix_micros`` ↔ DuckDB ``epoch_us``, the DESIGN.md rule — second-granular
epoch functions truncate differently across engines), grids are generated
as ``start + i*step`` integer sequences (never timestamp-interval
sequences, whose inclusive-end semantics differ), and interpolation uses
one shared expression tree of exactly-rounded IEEE double ops.

Scale shape: ONE shuffle per key set — the grid is generated from a
per-key min/max aggregate (map-side combinable) and unioned with the
observations into a single partition-by-key window; no per-key driver
loops, no grid×obs join. Grid size is (span/step) rows per key,
independent of observation count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_example_spark.operators.util import local_df


def _obs(df: DataFrame, key_col: str, ts_col: str, value_col: str) -> DataFrame:
    """One observation per (key, micros): MAX(value) — comparison-only, so
    deterministic and portable on raw doubles (no accumulation-order
    hazard; the one aggregate DESIGN.md's decimal rule doesn't apply to)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(value_col).alias("v"),
        )
        .groupBy("key", "us")
        .agg(F.max("v").alias("v"))
    )


def resample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_sec: int,
) -> DataFrame:
    """Per-key fixed-step grid from the first to the last observation, with
    forward-filled and linearly-interpolated values.

    Output per grid point: ``key``, ``grid_ts`` (timestamp), ``v_ffill``
    (last observation at-or-before), ``v_interp`` (linear between the
    surrounding observations; equals ``v_ffill`` after the last one),
    ``staleness_us`` (grid time minus last observation time, BIGINT).

    Mechanics: union the observations (sort tag 0) with the generated grid
    rows (tag 1, null value) and run ONE partition-by-key window — the
    as-of union trick, so a grid point at an observation's exact timestamp
    reads that observation. Forward pass carries (value, obs time);
    backward pass fetches the next observation for the interpolation
    weight ``(t - t0) / (t1 - t0)`` in double micros.
    """
    step_us = int(step_sec) * 1_000_000
    obs = _obs(df, key_col, ts_col, value_col)
    span = obs.groupBy("key").agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    grid = span.select(
        "key",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.expr(f"(hi - lo) div {step_us}"))
        ).alias("__i"),
        "lo",
    ).select("key", (F.col("lo") + F.col("__i") * F.lit(step_us)).alias("us"))
    unioned = obs.select(
        "key", "us", "v", F.lit(0).alias("is_grid"), F.col("us").alias("obs_us")
    ).unionByName(
        grid.select(
            "key",
            "us",
            F.lit(None).cast(obs.schema["v"].dataType).alias("v"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("bigint").alias("obs_us"),
        )
    )
    wb = (
        Window.partitionBy("key")
        .orderBy("us", "is_grid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("key")
        .orderBy("us", "is_grid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = unioned.select(
        "key",
        "us",
        "is_grid",
        F.last("v", ignorenulls=True).over(wb).alias("v0"),
        F.last("obs_us", ignorenulls=True).over(wb).alias("t0"),
        F.first("v", ignorenulls=True).over(wf).alias("v1"),
        F.first("obs_us", ignorenulls=True).over(wf).alias("t1"),
    )
    frac = (F.col("us") - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    return filled.filter(F.col("is_grid") == 1).select(
        F.col("key").alias(key_col),
        F.timestamp_micros(F.col("us")).alias("grid_ts"),
        F.col("v0").alias("v_ffill"),
        F.when(F.col("t1").isNull(), F.col("v0"))
        .otherwise(F.col("v0") + (F.col("v1") - F.col("v0")) * frac)
        .alias("v_interp"),
        (F.col("us") - F.col("t0")).alias("staleness_us"),
    )


def resample_oracle(
    table: str, key_col: str, ts_col: str, value_col: str, step_sec: int
) -> str:
    """DuckDB twin of ``resample`` — same union + single-window plan, same
    integer-micros grid, same interpolation expression tree."""
    step_us = int(step_sec) * 1_000_000
    return f"""
        WITH obs AS (
          SELECT {key_col} AS key, epoch_us({ts_col}) AS us, MAX({value_col}) AS v
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ), span AS (
          SELECT key, MIN(us) AS lo, MAX(us) AS hi FROM obs GROUP BY key
        ), grid AS (
          SELECT key, lo + i * {step_us} AS us
          FROM span, unnest(range(0, (hi - lo) // {step_us} + 1)) AS g(i)
        ), unioned AS (
          SELECT key, us, v, 0 AS is_grid, us AS obs_us FROM obs
          UNION ALL
          SELECT key, us, NULL, 1, NULL FROM grid
        ), filled AS (
          SELECT key, us, is_grid,
                 last_value(v IGNORE NULLS) OVER wb AS v0,
                 last_value(obs_us IGNORE NULLS) OVER wb AS t0,
                 first_value(v IGNORE NULLS) OVER wf AS v1,
                 first_value(obs_us IGNORE NULLS) OVER wf AS t1
          FROM unioned
          WINDOW wb AS (PARTITION BY key ORDER BY us, is_grid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wf AS (PARTITION BY key ORDER BY us, is_grid
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT key AS {key_col}, make_timestamp(us) AS grid_ts,
               v0 AS v_ffill,
               CASE WHEN t1 IS NULL THEN v0
                    ELSE v0 + (v1 - v0) * (CAST(us - t0 AS DOUBLE)
                                           / CAST(t1 - t0 AS DOUBLE)) END AS v_interp,
               us - t0 AS staleness_us
        FROM filled WHERE is_grid = 1
    """


def time_gaps(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gap_sec: int,
) -> DataFrame:
    """Per-key silence report: consecutive-event pairs more than
    ``min_gap_sec`` apart. One partition-by-key LAG window — the
    monitoring complement to resampling (where did the feed go dark).

    Output: ``key``, ``gap_start``/``gap_end`` (timestamps), ``gap_us``.
    """
    w = Window.partitionBy("key").orderBy("us")
    ev = df.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
    ).distinct()
    return (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("us") - F.col("prev_us") > int(min_gap_sec) * 1_000_000)
        .select(
            F.col("key").alias(key_col),
            F.timestamp_micros(F.col("prev_us")).alias("gap_start"),
            F.timestamp_micros(F.col("us")).alias("gap_end"),
            (F.col("us") - F.col("prev_us")).alias("gap_us"),
        )
    )


def time_gaps_oracle(table: str, key_col: str, ts_col: str, min_gap_sec: int) -> str:
    """DuckDB twin of ``time_gaps``."""
    return f"""
        WITH ev AS (
          SELECT DISTINCT {key_col} AS key, epoch_us({ts_col}) AS us FROM {table}
        ), lagged AS (
          SELECT key, us, LAG(us) OVER (PARTITION BY key ORDER BY us) AS prev_us
          FROM ev
        )
        SELECT key AS {key_col}, make_timestamp(prev_us) AS gap_start,
               make_timestamp(us) AS gap_end, us - prev_us AS gap_us
        FROM lagged WHERE us - prev_us > {int(min_gap_sec) * 1_000_000}
    """


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str | None = None,
    bucket: str = "day",
) -> DataFrame:
    """Downsample an irregular value series to per-bucket OHLC bars —
    open/high/low/close + count + exact volume sum, the canonical
    time-series rollup (market bars, sensor summaries, metric downsampling
    before long-horizon storage).

    Open/close are ``min_by``/``max_by`` over a DETERMINISTIC order key:
    zero-padded epoch-micros (‖ zero-padded ``seq_col`` when ties are
    possible) as a string — lexicographic equals numeric order, and
    string-keyed arg-extremes are the one composite-ordered form BOTH
    engines implement (DuckDB ``arg_min(x, VARCHAR)``; struct order keys
    are Spark-only). high/low are plain min/max (no accumulation — double-
    safe); the volume sum follows the house decimal-accumulate /
    double-output rule.

    Scale: ONE hash aggregation on (key, bucket) — every component is a
    commutative aggregate with a map-side partial, so this is the same
    shuffle a grouped count needs; no window, no sort. The same aggregate
    runs unchanged as a streaming complete-mode query (see
    streaming/timeseries_stream.py) because each component is a monoid.
    """
    t = F.col(ts_col)
    mic = F.unix_micros(t.cast("timestamp"))
    ok = F.lpad(mic.cast("string"), 20, "0")
    if seq_col is not None:
        ok = F.concat(ok, F.lpad(F.col(seq_col).cast("string"), 12, "0"))
    v = F.col(value_col)
    return df.groupBy(
        F.col(key_col).alias("_entity"), F.date_trunc(bucket, t).alias("bar_ts")
    ).agg(
        F.min_by(v, ok).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, ok).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("vol_sum"),
    )


def ohlc_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str | None = None,
    bucket: str = "day",
    where: str = "TRUE",
) -> str:
    ok = f"lpad(CAST(epoch_us({ts_col}) AS VARCHAR), 20, '0')"
    if seq_col is not None:
        ok = f"{ok} || lpad(CAST({seq_col} AS VARCHAR), 12, '0')"
    return f"""
        SELECT {key_col} AS _entity, date_trunc('{bucket}', {ts_col}) AS bar_ts,
               arg_min({value_col}, {ok}) AS open,
               MAX({value_col}) AS high,
               MIN({value_col}) AS low,
               arg_max({value_col}, {ok}) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST({value_col} AS DECIMAL(18,2))) AS DOUBLE) AS vol_sum
        FROM {table} WHERE {where}
        GROUP BY 1, 2
    """


def seasonal_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Seasonality-aware volume-spike detection: count events per (key,
    day, hour-of-day) cell, build each key's PER-HOUR-OF-DAY baseline (the
    median of that hour's counts across observed days — daily seasonality
    is modeled, not averaged away), and flag cells running at more than
    double their hour's baseline. A 9am spike is judged against 9am's
    history, never against the overnight lull.

    Output: ``(key, day, hour, n, med)`` for the flagged cells. The gate
    ``n > 2·median AND n >= min_count`` compares a BIGINT against one
    exactly-computed interpolated median (QUANTILE_CONT parity) — no float
    accumulation, cross-engine exact. Days with zero events for a cell are
    absent from the baseline (count relations carry no zeros); a
    production deployment over sparse keys would densify against the grid
    from :func:`resample` first.

    Scale: one (key, day, hour) count aggregation, one (key, hour) median
    over it (day-grain, tiny), broadcast back. Same two-pass shape as the
    MAD gate, with pass two already aggregated.
    """
    t = F.col(ts_col)
    cells = df.groupBy(
        F.col(key_col).alias("_k"),
        F.date_trunc("day", t).alias("day"),
        F.hour(t).alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = cells.groupBy("_k", "hour").agg(
        F.percentile(F.col("n"), F.lit(0.5)).alias("med")
    )
    return (
        cells.join(F.broadcast(base), ["_k", "hour"])
        .filter((F.col("n") > 2 * F.col("med")) & (F.col("n") >= min_count))
        .select(F.col("_k").alias(key_col), "day", "hour", "n", "med")
    )


def seasonal_anomalies_oracle(
    table: str, key_col: str, ts_col: str, min_count: int = 1
) -> str:
    return f"""
        WITH cells AS MATERIALIZED (
          SELECT {key_col} AS k, date_trunc('day', {ts_col}) AS day,
                 CAST(EXTRACT(hour FROM {ts_col}) AS INTEGER) AS hour,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM {table} GROUP BY 1, 2, 3
        ), base AS (
          SELECT k, hour, QUANTILE_CONT(n, 0.5) AS med
          FROM cells GROUP BY k, hour
        )
        SELECT cells.k AS {key_col}, day, hour, n, med
        FROM cells JOIN base USING (k, hour)
        WHERE n > 2 * med AND n >= {min_count}
    """


def rolling_active_users(
    df: DataFrame,
    window_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing-window distinct actives per day (the WAU/DAU product
    metric): for every report day, how many distinct keys were active in
    the preceding ``window_days`` days (inclusive). Output:
    ``(report_day, n_active)``, clipped at the data's last observed day
    (no partial future windows).

    The trailing window is the explode-to-member-days trick: each (key,
    active-day) pair — DISTINCT FIRST, so the explode fans out per active
    day, not per event — contributes to the ``window_days`` report days it
    falls inside, then one COUNT(DISTINCT) per report day. That turns a
    sliding distinct-count (which has no merge) into a plain aggregation;
    at petabyte scale swap the exact distinct for the HLL registers in
    operators/sketch.py, same fan-out.

    The ascending ``sequence(0, w-1)`` is safe by construction (the
    Spark 4 descending-sequence trap needs a>b).
    """
    d = F.date_trunc("day", F.col(ts_col))
    ud = df.select(F.col(key_col).alias("__u"), d.alias("__d")).distinct()
    mx = ud.agg(F.max("__d").alias("__mx"))
    grid = ud.select(
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


def rolling_active_oracle(
    table: str = "events",
    window_days: int = 7,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    return f"""
        WITH ud AS MATERIALIZED (
          SELECT DISTINCT {key_col} AS u, date_trunc('day', {ts_col}) AS d
          FROM {table}
        ), mx AS (SELECT MAX(d) AS mx FROM ud),
        g AS (
          SELECT u, d + i * INTERVAL 1 DAY AS report_day
          FROM ud, range(0, {window_days}) r(i)
        )
        SELECT report_day, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active
        FROM g CROSS JOIN mx WHERE report_day <= mx
        GROUP BY 1
    """


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    h: float = 50.0,
    scale: int = 1000,
    target: float | None = None,
) -> DataFrame:
    """One-sided (upward) mean-referenced CUSUM drift detection per key.

    The textbook recurrence ``S_i = max(0, S_{i-1} + (x_i - mean))`` is
    inherently sequential — useless as written on a cluster. It has an
    EXACT closed form over prefix sums: ``S_i = P_i - min(0, min_{j<=i}
    P_j)`` where ``P`` is the running sum of deviations, which is two
    stacked window functions over ONE per-key shuffle. (Reference parity:
    the reference engine's window machinery, App.java:170-200, is the
    same primitive; CUSUM is the composition a monitoring pipeline adds.)

    Engine portability: values quantize to ``floor(value*scale + 0.5)``
    BIGINT milli-units (IEEE multiply+floor is identical everywhere);
    the mean reference is CROSS-MULTIPLIED — ``d_i = n*v_i - T`` — so no
    division ever happens inside the accumulation. The alarm test
    ``S_i > h*n*scale`` is the classic value-unit threshold in the same
    integer space. Overflow bound: ``n^2 * v_max * scale < 2^63`` — holds
    to ~1e6 rows/key of 1e3-magnitude values at scale=1000; shrink
    ``scale`` past that.

    Output per key: ``n`` observations, ``n_alarms``, ``first_alarm_ts``
    (timestamp of the first S over threshold, null when none),
    ``max_stat`` (max S in value units, exact BIGINT/BIGINT double).
    """
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(seq_col).alias("seq"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
    )
    wk = Window.partitionBy("k")
    wo = (
        Window.partitionBy("k")
        .orderBy("us", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if target is None:
        # mean-referenced: d_i = n*v_i - T (cross-multiplied, no division);
        # alarm and stat scale by n accordingly
        with_p = (
            src.withColumn("n", F.count(F.lit(1)).over(wk))
            .withColumn("t", F.sum("vq").over(wk))
            .withColumn("d", F.col("n") * F.col("vq") - F.col("t"))
            .withColumn("p", F.sum("d").over(wo))
        )
        denom = F.max("n").cast("double") * F.lit(float(scale))
        alarm_rhs = F.lit(float(h)) * F.col("n").cast("double") * F.lit(float(scale))
    else:
        # fixed-target: d_i = v_i - target, the classic online form (the
        # streaming twin folds exactly this recurrence)
        tq = int(target * scale + 0.5)
        with_p = src.withColumn("n", F.count(F.lit(1)).over(wk)).withColumn(
            "p", F.sum(F.col("vq") - F.lit(tq)).over(wo)
        )
        denom = F.lit(float(scale))
        alarm_rhs = F.lit(float(h)) * F.lit(float(scale))
    with_s = with_p.withColumn(
        "s", F.col("p") - F.least(F.lit(0), F.min("p").over(wo))
    ).withColumn("alarm", F.col("s").cast("double") > alarm_rhs)
    return (
        with_s.groupBy("k")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(F.col("alarm"), 1).otherwise(0)).cast("bigint").alias("n_alarms"),
            F.timestamp_micros(
                F.min(F.when(F.col("alarm"), F.col("us")))
            ).alias("first_alarm_ts"),
            (F.max("s").cast("double") / denom).alias("max_stat"),
        )
        .select(F.col("k").alias(key_col), "n", "n_alarms", "first_alarm_ts", "max_stat")
    )


def cusum_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    h: float = 50.0,
    scale: int = 1000,
    target: float | None = None,
) -> str:
    """DuckDB twin of :func:`cusum_changepoints` (both reference forms)."""
    if target is None:
        d_expr = "n * vq - t"
        alarm_rhs = f"{float(h)!r} * CAST(n AS DOUBLE) * {float(scale)!r}"
        denom = f"(CAST(MAX(n) AS DOUBLE) * {float(scale)!r})"
    else:
        tq = int(target * scale + 0.5)
        d_expr = f"vq - {tq}"
        alarm_rhs = f"{float(h)!r} * {float(scale)!r}"
        denom = f"CAST({scale} AS DOUBLE)"
    return f"""
        WITH src AS (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us, {seq_col} AS seq,
                 CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
        ), base AS (
          SELECT k, us, seq, vq,
                 CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
                 CAST(SUM(vq) OVER (PARTITION BY k) AS BIGINT) AS t
          FROM src
        ), pre AS (
          SELECT k, us, seq, n,
                 CAST(SUM({d_expr}) OVER (
                   PARTITION BY k ORDER BY us, seq ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS p
          FROM base
        ), stat AS (
          SELECT k, us, n,
                 p - least(0, CAST(MIN(p) OVER (
                   PARTITION BY k ORDER BY us, seq ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT)) AS s
          FROM pre
        ), flagged AS (
          SELECT k, us, n, s,
                 CAST(s AS DOUBLE) > {alarm_rhs}
                   AS alarm
          FROM stat
        )
        SELECT k AS {key_col}, MAX(n) AS n,
               CAST(SUM(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
               make_timestamp(MIN(CASE WHEN alarm THEN us END)) AS first_alarm_ts,
               CAST(MAX(s) AS DOUBLE) / {denom}
                 AS max_stat
        FROM flagged GROUP BY k
    """


_EWMA_H = 7  # truncated horizon: weights 2^7 .. 2^0 over the last 8 points


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Per-key exponential moving average (alpha = 1/2), truncated to the
    last ``_EWMA_H + 1`` observations so every weight is an exact power of
    two: ``y_i = sum_k 2^(H-k) * x_(i-k) / sum_k 2^(H-k)`` over available
    lags k = 0..H. The geometric tail beyond 8 points carries < 0.4% of
    the mass; truncation buys BIT-EXACT cross-engine results (the infinite
    recurrence would accumulate doubles — the DESIGN.md hazard).

    Values quantize to BIGINT milli-units first; the weighted numerator
    and denominator are exact integers, and the single double division at
    the output boundary is IEEE exact-rounded. The unrolled ``lag`` chain
    is one window over one per-key shuffle — no recurrence, no Python.

    Output: ``(key, ts, value, ewma)`` — one row per observation.
    """
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(seq_col).alias("seq"),
            F.col(value_col).alias("v"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
    )
    w = Window.partitionBy("k").orderBy("us", "seq")
    num = F.lit(0).cast("bigint")
    den = F.lit(0).cast("bigint")
    for k in range(_EWMA_H + 1):
        wt = 1 << (_EWMA_H - k)
        lagged = F.lag("vq", k).over(w) if k else F.col("vq")
        num = num + F.coalesce(lagged * wt, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    return src.select(
        F.col("k").alias(key_col),
        F.timestamp_micros(F.col("us")).alias("ts"),
        F.col("v").alias(value_col),
        (num.cast("double") / (den * scale).cast("double")).alias("ewma"),
    )


def ewma_oracle(
    table: str, key_col: str, ts_col: str, value_col: str, seq_col: str,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`ewma_smooth` (same unrolled lag chain)."""
    h = _EWMA_H
    num_terms = []
    den_terms = []
    for k in range(h + 1):
        wt = 1 << (h - k)
        lagged = f"lag(vq, {k}) OVER w" if k else "vq"
        num_terms.append(f"COALESCE({lagged} * {wt}, 0)")
        den_terms.append(f"CASE WHEN {lagged} IS NOT NULL THEN {wt} ELSE 0 END")
    return f"""
        WITH src AS (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us, {seq_col} AS seq,
                 {value_col} AS v,
                 CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
        )
        SELECT k AS {key_col}, make_timestamp(us) AS ts, v AS {value_col},
               CAST({' + '.join(num_terms)} AS DOUBLE)
                 / CAST(({' + '.join(den_terms)}) * {scale} AS DOUBLE) AS ewma
        FROM src
        WINDOW w AS (PARTITION BY k ORDER BY us, seq ROWS UNBOUNDED PRECEDING)
    """


_HOUR_US = 3_600_000_000


def seasonal_naive_eval(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    horizon_hours: int = 168,
    season_hours: int = 168,
) -> DataFrame:
    """Forecast-quality baseline harness: score the SEASONAL-NAIVE
    forecaster (predict this hour's event count with the count from one
    season earlier) against the plain naive forecaster (previous hour) on
    the final ``horizon_hours`` of each key's span, reporting MAE for both
    and MASE (their ratio) — the scale-free metric every forecasting
    pipeline reports before trying anything fancier.

    The hourly series is DENSIFIED onto an integer-micros grid first
    (missing hours count 0 — same device as :func:`resample`), so the lag
    offsets are exact hour steps. Counts and absolute errors are exact
    BIGINTs; MAE/MASE are single double divisions at the boundary.

    Output: ``(key, n_scored, mae_seasonal, mae_naive, mase)`` (mase null
    when the naive MAE is 0).
    """
    hours = df.select(
        F.col(key_col).alias("k"),
        # integer `div`, NOT `/`+cast: double division of 1e15-scale micros
        # can land one ulp under the boundary and truncate differently
        F.expr(
            f"unix_micros(cast(`{ts_col}` as timestamp)) div {_HOUR_US}"
        ).alias("h"),
    )
    hc = hours.groupBy("k", "h").agg(F.count(F.lit(1)).alias("n"))
    span = hc.groupBy("k").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = span.select(
        "k",
        "hi",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"),
    )
    dense = grid.join(hc, ["k", "h"], "left").select(
        "k", "h", "hi", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = Window.partitionBy("k").orderBy("h")
    scored = (
        dense.withColumn("f_s", F.lag("n", season_hours).over(w))
        .withColumn("f_n", F.lag("n", 1).over(w))
        .filter(
            (F.col("h") > F.col("hi") - horizon_hours)
            & F.col("f_s").isNotNull()
            & F.col("f_n").isNotNull()
        )
    )
    return scored.groupBy(F.col("k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_scored"),
        (
            F.sum(F.abs(F.col("n") - F.col("f_s"))).cast("double")
            / F.count(F.lit(1))
        ).alias("mae_seasonal"),
        (
            F.sum(F.abs(F.col("n") - F.col("f_n"))).cast("double")
            / F.count(F.lit(1))
        ).alias("mae_naive"),
        F.when(
            F.sum(F.abs(F.col("n") - F.col("f_n"))) > 0,
            F.sum(F.abs(F.col("n") - F.col("f_s"))).cast("double")
            / F.sum(F.abs(F.col("n") - F.col("f_n"))).cast("double"),
        ).alias("mase"),
    )


def seasonal_naive_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    horizon_hours: int = 168,
    season_hours: int = 168,
) -> str:
    """DuckDB twin of :func:`seasonal_naive_eval`."""
    return f"""
        WITH hc AS MATERIALIZED (
          SELECT {key_col} AS k, epoch_us({ts_col}) // {_HOUR_US} AS h,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM {table} GROUP BY 1, 2
        ), span AS (
          SELECT k, MIN(h) AS lo, MAX(h) AS hi FROM hc GROUP BY k
        ), grid AS (
          SELECT k, hi, lo + i AS h
          FROM span, unnest(range(0, hi - lo + 1)) AS g(i)
        ), dense AS MATERIALIZED (
          SELECT grid.k, grid.h, grid.hi, COALESCE(hc.n, 0) AS n
          FROM grid LEFT JOIN hc ON hc.k = grid.k AND hc.h = grid.h
        ), scored AS (
          SELECT * FROM (
            SELECT k, h, hi, n,
                   lag(n, {season_hours}) OVER w AS f_s,
                   lag(n, 1) OVER w AS f_n
            FROM dense
            WINDOW w AS (PARTITION BY k ORDER BY h)
          ) WHERE h > hi - {horizon_hours} AND f_s IS NOT NULL AND f_n IS NOT NULL
        )
        SELECT k AS {key_col}, CAST(COUNT(*) AS BIGINT) AS n_scored,
               CAST(SUM(abs(n - f_s)) AS DOUBLE) / COUNT(*) AS mae_seasonal,
               CAST(SUM(abs(n - f_n)) AS DOUBLE) / COUNT(*) AS mae_naive,
               CASE WHEN SUM(abs(n - f_n)) > 0 THEN
                 CAST(SUM(abs(n - f_s)) AS DOUBLE) / CAST(SUM(abs(n - f_n)) AS DOUBLE)
               END AS mase
        FROM scored GROUP BY k
    """


def rolling_median(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    half_window: int = 3,
) -> DataFrame:
    """Rolling median smoother (±``half_window`` rows) — the robust
    denoiser that shrugs off the spikes an EWMA chases. Medians are
    holistic (no frame-incremental aggregate in Spark), so the window is
    expressed as a bounded rank self-join: row i groups with rows
    ``rank ∈ [i-h, i+h]`` and takes the exact interpolated percentile —
    identical grouping, identical interpolation in any engine. Cost is
    ``(2h+1)·n`` joined rows, linear in n for fixed h.

    Output: ``(key, ts, value, med)`` — one row per observation.
    """
    w = Window.partitionBy("k").orderBy("us", "seq")
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(seq_col).alias("seq"),
            F.col(value_col).cast("double").alias("v"),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    h = half_window
    centers = src.select("k", F.col("rn").alias("crn"), F.col("us").alias("cus"),
                         F.col("v").alias("cv"))
    joined = centers.alias("c").join(
        src.select(F.col("k").alias("k2"), "rn", "v").alias("o"),
        (F.col("c.k") == F.col("o.k2"))
        & (F.col("o.rn") >= F.col("c.crn") - h)
        & (F.col("o.rn") <= F.col("c.crn") + h),
    )
    return (
        joined.groupBy(F.col("c.k").alias("k"), "crn", "cus", "cv")
        .agg(F.percentile(F.col("o.v"), F.lit(0.5)).alias("med"))
        .select(
            F.col("k").alias(key_col),
            F.timestamp_micros(F.col("cus")).alias("ts"),
            F.col("cv").alias(value_col),
            "med",
        )
    )


def rolling_median_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    half_window: int = 3,
) -> str:
    """DuckDB twin of :func:`rolling_median` (same rank self-join)."""
    h = half_window
    return f"""
        WITH src AS MATERIALIZED (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us, {seq_col} AS seq,
                 CAST({value_col} AS DOUBLE) AS v,
                 CAST(ROW_NUMBER() OVER (PARTITION BY {key_col}
                      ORDER BY epoch_us({ts_col}), {seq_col}) AS BIGINT) AS rn
          FROM {table} WHERE {value_col} IS NOT NULL
        )
        SELECT c.k AS {key_col}, make_timestamp(c.us) AS ts, c.v AS {value_col},
               QUANTILE_CONT(o.v, 0.5) AS med
        FROM src c JOIN src o
          ON c.k = o.k AND o.rn >= c.rn - {h} AND o.rn <= c.rn + {h}
        GROUP BY c.k, c.rn, c.us, c.v
    """


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Per-key session-duration statistics from Spark's native
    ``session_window`` — counts, mean events/session, and exact
    interpolated duration percentiles. The DuckDB oracle reimplements
    sessionization with the classic GAPS-AND-ISLANDS rewrite (lag >
    gap starts an island, running sum numbers them), pinning that
    ``session_window`` and the relational rewrite agree EXACTLY —
    including the window's end = last event + gap convention.

    Output: ``(key, n_sessions, n_events, avg_events, p50_duration_s,
    max_duration_s)``.
    """
    gap = f"{gap_minutes} minutes"
    sessions = (
        df.select(
            F.col(key_col).alias("k"), F.col(ts_col).cast("timestamp").alias("ts")
        )
        .groupBy(F.session_window("ts", gap).alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "k",
            "n",
            (
                (
                    F.unix_micros(F.col("w.end"))
                    - F.unix_micros(F.col("w.start"))
                ).cast("double")
                / F.lit(1e6)
            ).alias("dur_s"),
        )
    )
    return sessions.groupBy(F.col("k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("avg_events"),
        F.percentile(F.col("dur_s"), F.lit(0.5)).alias("p50_duration_s"),
        F.max("dur_s").alias("max_duration_s"),
    )


def session_stats_oracle(
    table: str, key_col: str, ts_col: str, gap_minutes: int = 30
) -> str:
    """DuckDB twin of :func:`session_stats` (gaps-and-islands)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
        WITH ev AS (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us FROM {table}
        ), flagged AS (
          SELECT k, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY k ORDER BY us)
                      > {gap_us} OR lag(us) OVER (PARTITION BY k ORDER BY us)
                      IS NULL THEN 1 ELSE 0 END AS new_s
          FROM ev
        ), ids AS (
          SELECT k, us,
                 CAST(SUM(new_s) OVER (PARTITION BY k ORDER BY us
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
          FROM flagged
        ), sessions AS MATERIALIZED (
          SELECT k, sid, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(MAX(us) + {gap_us} - MIN(us) AS DOUBLE) / 1e6 AS dur_s
          FROM ids GROUP BY k, sid
        )
        SELECT k AS {key_col}, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_events,
               QUANTILE_CONT(dur_s, 0.5) AS p50_duration_s,
               MAX(dur_s) AS max_duration_s
        FROM sessions GROUP BY k
    """


def bollinger_breakouts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    window_rows: int = 20,
    k_num: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Bollinger-band breakout detection: flag observations falling
    outside ``mean ± k·std`` of the TRAILING ``window_rows`` window —
    the rolling volatility envelope. Rolling mean/variance come from
    exact BIGINT window sums of quantized values (Σv, Σv², n); the
    breakout test is CROSS-MULTIPLIED so no division happens per row:
    ``(n·v − Σv)² > k²·(n·Σv² − (Σv)²)`` — pure integer comparison, the
    sqrt never evaluated at all. Output per key: ``(key, n, n_breakout_up,
    n_breakout_down, first_breakout_ts)``.
    """
    w = (
        Window.partitionBy("k")
        .orderBy("us", "seq")
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(seq_col).alias("seq"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
    )
    stats = (
        src.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s1", F.sum("vq").over(w))
        .withColumn("s2", F.sum(F.col("vq") * F.col("vq")).over(w))
        .filter(F.col("n") == window_rows)
    )
    dev = F.col("n") * F.col("vq") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    up = (dev > 0) & (dev * dev > F.lit(k_num * k_num) * var_n2)
    down = (dev < 0) & (dev * dev > F.lit(k_num * k_num) * var_n2)
    flagged = stats.withColumn("up", up.cast("bigint")).withColumn(
        "down", down.cast("bigint")
    )
    return flagged.groupBy(F.col("k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("up").alias("n_breakout_up"),
        F.sum("down").alias("n_breakout_down"),
        F.timestamp_micros(
            F.min(F.when(F.col("up") + F.col("down") > 0, F.col("us")))
        ).alias("first_breakout_ts"),
    )


def bollinger_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    seq_col: str,
    window_rows: int = 20,
    k_num: int = 2,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`bollinger_breakouts`."""
    wr = window_rows
    return f"""
        WITH src AS (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us, {seq_col} AS seq,
                 CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
        ), stats AS (
          SELECT * FROM (
            SELECT k, us, vq,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n,
                   CAST(SUM(vq) OVER w AS BIGINT) AS s1,
                   CAST(SUM(vq * vq) OVER w AS BIGINT) AS s2
            FROM src
            WINDOW w AS (PARTITION BY k ORDER BY us, seq
                         ROWS BETWEEN {wr - 1} PRECEDING AND CURRENT ROW)
          ) WHERE n = {wr}
        ), flagged AS (
          SELECT k, us,
                 CAST((n * vq - s1 > 0) AND
                      ((n * vq - s1) * (n * vq - s1)
                       > {k_num * k_num} * (n * s2 - s1 * s1)) AS BIGINT) AS up,
                 CAST((n * vq - s1 < 0) AND
                      ((n * vq - s1) * (n * vq - s1)
                       > {k_num * k_num} * (n * s2 - s1 * s1)) AS BIGINT) AS down
          FROM stats
        )
        SELECT k AS {key_col}, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(up) AS BIGINT) AS n_breakout_up,
               CAST(SUM(down) AS BIGINT) AS n_breakout_down,
               make_timestamp(MIN(CASE WHEN up + down > 0 THEN us END))
                 AS first_breakout_ts
        FROM flagged GROUP BY k
    """


def acf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 6,
    step_sec: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """Per-key sample autocorrelation at lags 1..``max_lag`` over the
    ``step_sec``-bucketed value series — the diagnostic every forecasting
    pipeline runs before picking a model (seasonality shows as peaks at
    the period, white noise as ~0 everywhere).

    Portability: bucket totals quantize to BIGINT (``floor(v*scale+0.5)``
    summed exactly); centering subtracts the FLOOR mean (``s div n`` —
    identical truncation in both engines on non-negative operands), so
    numerator and denominator are exact BIGINT sums of integer products
    and ``acf = num/den`` is one double division at the output boundary.
    Overflow bound: ``n_buckets * dev^2 < 2^63`` (dev = centered bucket
    total) — holds to ~1e6 buckets of 1e6-unit deviations.

    Pairs come from EXISTING buckets (an empty bucket contributes no
    pair); lag-k pairing is an equi-join on ``bucket + k`` after a
    lag-explode — codegen equi-join, one shuffle on (key, bucket), never
    a band join. Output: ``(key, lag, n_pairs, num, den, acf)``.
    """
    step_us = int(step_sec) * 1_000_000
    hx = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.expr(
                f"unix_micros(cast({ts_col} as timestamp)) div {step_us}"
            ).alias("b"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
        .groupBy("k", "b")
        .agg(F.sum("vq").alias("x"))
    )
    st = hx.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    y = hx.join(F.broadcast(st), "k").select(
        "k", "b", F.expr("x - (s div n)").alias("y")
    ).localCheckpoint()  # read by the pair join (twice) and the denominator
    den = y.groupBy("k").agg(F.sum(F.col("y") * F.col("y")).alias("den"))
    pairs = (
        y.select(
            "k",
            "b",
            F.col("y").alias("ya"),
            F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
        )
        .select("k", (F.col("b") + F.col("lag")).alias("b"), "ya", "lag")
        .join(y.select("k", "b", F.col("y").alias("yb")), ["k", "b"])
        .groupBy("k", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ya") * F.col("yb")).alias("num"),
        )
    )
    return pairs.join(F.broadcast(den), "k").select(
        F.col("k").alias(key_col),
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        "num",
        "den",
        # a zero-variance series has den=0: acf is undefined -> NULL
        # (guard both engines identically; ANSI mode errors on the raw /)
        F.when(
            F.col("den") != 0,
            F.col("num").cast("double") / F.col("den").cast("double"),
        ).alias("acf"),
    )


def acf_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 6,
    step_sec: int = 3600,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`acf` (``//`` == ``div`` on non-negatives)."""
    step_us = int(step_sec) * 1_000_000
    return f"""
        WITH hx AS MATERIALIZED (
          SELECT {key_col} AS k, epoch_us({ts_col}) // {step_us} AS b,
                 CAST(SUM(CAST(floor({value_col} * {scale} + 0.5) AS BIGINT))
                      AS BIGINT) AS x
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ), st AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
          FROM hx GROUP BY k
        ), y AS MATERIALIZED (
          SELECT hx.k, b, x - (s // n) AS y FROM hx JOIN st USING (k)
        ), den AS (
          SELECT k, CAST(SUM(y * y) AS BIGINT) AS den FROM y GROUP BY k
        ), pairs AS (
          SELECT a.k, l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(a.y * b2.y) AS BIGINT) AS num
          FROM y a
          CROSS JOIN (SELECT unnest(range(1, {max_lag + 1})) AS lag) l
          JOIN y b2 ON b2.k = a.k AND b2.b = a.b + l.lag
          GROUP BY 1, 2
        )
        SELECT pairs.k AS {key_col}, CAST(lag AS BIGINT) AS lag, n_pairs,
               num, den,
               CASE WHEN den <> 0
                    THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS acf
        FROM pairs JOIN den USING (k)
    """


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    step_sec: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method behind STL's initialization): centered moving-average trend
    over one full period, then the per-phase mean of the detrended series
    as the seasonal profile — daily shape extraction for an hourly series
    at the defaults.

    All arithmetic before the output boundary is exact BIGINT in
    48TH-UNITS (2*period): the even-period centered MA half-weights the
    endpoints, so ``trend = T2/(2*period)`` with ``T2 = 2*S - x_{-h} -
    x_{+h}`` (S the ±h ROWS sum, h = period/2) and the detrended value is
    the integer ``d = 2*period*x - T2``. The seasonal mean is ONE double
    division ``sum(d) / (2*period*count)`` per phase. Only complete MA
    windows contribute (ROWS-frame count == period+1) — the ROWS frame
    assumes a dense bucket grid, the standard precondition (densify via
    :func:`resample` first on sparse keys).

    Scale: one (key, bucket) aggregation, ONE per-key window pass
    (sum+count+lag+lead share the shuffle/sort), one (key, phase)
    aggregation. Output: ``(key, phase, s_cnt, s_num, seasonal)``.
    """
    if period % 2 != 0:
        raise ValueError("period must be even (half-weighted endpoints)")
    half = period // 2
    step_us = int(step_sec) * 1_000_000
    hx = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.expr(
                f"unix_micros(cast({ts_col} as timestamp)) div {step_us}"
            ).alias("b"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
        .groupBy("k", "b")
        .agg(F.sum("vq").alias("x"))
    )
    win = Window.partitionBy("k").orderBy("b").rowsBetween(-half, half)
    wo = Window.partitionBy("k").orderBy("b")
    w = hx.select(
        "k",
        "b",
        "x",
        F.sum("x").over(win).alias("s_ma"),
        F.count(F.lit(1)).over(win).alias("c_ma"),
        F.lag("x", half).over(wo).alias("xm"),
        F.lead("x", half).over(wo).alias("xp"),
    ).filter(
        (F.col("c_ma") == period + 1)
        & F.col("xm").isNotNull()
        & F.col("xp").isNotNull()
    )
    d = w.select(
        "k",
        (F.col("b") % period).alias("phase"),
        (
            F.lit(2 * period) * F.col("x")
            - (F.lit(2) * F.col("s_ma") - F.col("xm") - F.col("xp"))
        ).alias("d"),
    )
    return d.groupBy("k", "phase").agg(
        F.count(F.lit(1)).alias("s_cnt"), F.sum("d").alias("s_num")
    ).select(
        F.col("k").alias(key_col),
        F.col("phase").cast("long").alias("phase"),
        "s_cnt",
        "s_num",
        (
            F.col("s_num").cast("double")
            / (F.lit(2 * period) * F.col("s_cnt")).cast("double")
        ).alias("seasonal"),
    )


def seasonal_decompose_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    step_sec: int = 3600,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`seasonal_decompose`."""
    half = period // 2
    step_us = int(step_sec) * 1_000_000
    return f"""
        WITH hx AS MATERIALIZED (
          SELECT {key_col} AS k, epoch_us({ts_col}) // {step_us} AS b,
                 CAST(SUM(CAST(floor({value_col} * {scale} + 0.5) AS BIGINT))
                      AS BIGINT) AS x
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ), w AS MATERIALIZED (
          SELECT k, b, x,
                 SUM(x) OVER win AS s_ma,
                 COUNT(*) OVER win AS c_ma,
                 LAG(x, {half}) OVER (PARTITION BY k ORDER BY b) AS xm,
                 LEAD(x, {half}) OVER (PARTITION BY k ORDER BY b) AS xp
          FROM hx
          WINDOW win AS (PARTITION BY k ORDER BY b
                         ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
        ), d AS (
          SELECT k, b % {period} AS phase,
                 {2 * period} * x - (2 * s_ma - xm - xp) AS d
          FROM w
          WHERE c_ma = {period + 1} AND xm IS NOT NULL AND xp IS NOT NULL
        )
        SELECT k AS {key_col}, CAST(phase AS BIGINT) AS phase,
               CAST(COUNT(*) AS BIGINT) AS s_cnt,
               CAST(SUM(d) AS BIGINT) AS s_num,
               CAST(SUM(d) AS DOUBLE)
                 / CAST({2 * period} * COUNT(*) AS DOUBLE) AS seasonal
        FROM d GROUP BY 1, 2
    """


def changepoint(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Binary-segmentation level-shift detection per key: the exact split
    time minimizing total within-segment squared error — the first step of
    every changepoint pipeline (and the complement of :func:`
    cusum_changepoints`, which detects drift against a FIXED reference;
    this finds the single best structural break).

    Exhaustive and exact: every observation boundary is a candidate
    split. One ordered window pass per key accumulates prefix (count,
    sum, sum-of-squares) of the quantized values; each side's SSE
    numerator ``n*Q - S^2`` is an exact BIGINT, divided ONCE into a
    double, and the two-term cost sum + argmin row_number are fixed
    double op sequences (engine-portable per the repo's determinism
    rules). Overflow bound: ``(n * v_max * scale)^2 < 2^63`` per key —
    quantize coarser or pre-segment beyond ~3e9 value-units.

    Output per key: ``(key, cut_ts, n_l, n_r, mean_l, mean_r, sse_cost)``
    — the best split, its segment means (exact-integer divisions), and
    the minimized total SSE in value^2 units.
    """
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.floor(F.col(value_col) * scale + F.lit(0.5))
            .cast("bigint")
            .alias("vq"),
        )
        .groupBy("k", "us")
        .agg(F.max("vq").alias("vq"))
    )
    wl = Window.partitionBy("k").orderBy("us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("k").orderBy("us").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cuts = src.select(
        "k",
        "us",
        F.count(F.lit(1)).over(wl).alias("nl"),
        F.sum("vq").over(wl).alias("sl"),
        F.sum(F.col("vq") * F.col("vq")).over(wl).alias("ql"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("vq").over(wt).alias("s"),
        F.sum(F.col("vq") * F.col("vq")).over(wt).alias("q"),
    ).filter(F.col("nl") < F.col("n"))
    nr = F.col("n") - F.col("nl")
    sr = F.col("s") - F.col("sl")
    qr = F.col("q") - F.col("ql")
    sse_l = (
        (F.col("nl") * F.col("ql") - F.col("sl") * F.col("sl")).cast("double")
        / F.col("nl").cast("double")
    )
    sse_r = (nr * qr - sr * sr).cast("double") / nr.cast("double")
    scored = cuts.select(
        "k",
        "us",
        "nl",
        nr.alias("nr"),
        (F.col("sl").cast("double") / F.col("nl").cast("double")).alias("ml"),
        (sr.cast("double") / nr.cast("double")).alias("mr"),
        ((sse_l + sse_r) / F.lit(float(scale * scale))).alias("sse_cost"),
    )
    top = Window.partitionBy("k").orderBy("sse_cost", "us")
    return (
        scored.withColumn("__rn", F.row_number().over(top))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("k").alias(key_col),
            F.timestamp_micros(F.col("us")).alias("cut_ts"),
            F.col("nl").alias("n_l"),
            F.col("nr").alias("n_r"),
            (F.col("ml") / F.lit(float(scale))).alias("mean_l"),
            (F.col("mr") / F.lit(float(scale))).alias("mean_r"),
            "sse_cost",
        )
    )


def changepoint_oracle(
    table: str, key_col: str, ts_col: str, value_col: str, scale: int = 100
) -> str:
    """DuckDB twin of :func:`changepoint`."""
    return f"""
        WITH src AS (
          SELECT {key_col} AS k, epoch_us({ts_col}) AS us,
                 MAX(CAST(floor({value_col} * {scale} + 0.5) AS BIGINT)) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ), cuts AS (
          SELECT k, us,
            CAST(COUNT(*) OVER wl AS BIGINT) AS nl,
            CAST(SUM(vq) OVER wl AS BIGINT) AS sl,
            CAST(SUM(vq * vq) OVER wl AS BIGINT) AS ql,
            CAST(COUNT(*) OVER wt AS BIGINT) AS n,
            CAST(SUM(vq) OVER wt AS BIGINT) AS s,
            CAST(SUM(vq * vq) OVER wt AS BIGINT) AS q
          FROM src
          WINDOW wl AS (PARTITION BY k ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wt AS (PARTITION BY k)
        ), scored AS (
          SELECT k, us, nl, n - nl AS nr,
            CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) AS ml,
            CAST(s - sl AS DOUBLE) / CAST(n - nl AS DOUBLE) AS mr,
            (CAST(nl * ql - sl * sl AS DOUBLE) / CAST(nl AS DOUBLE)
             + CAST((n - nl) * (q - ql) - (s - sl) * (s - sl) AS DOUBLE)
               / CAST(n - nl AS DOUBLE)) / {float(scale * scale)} AS sse_cost
          FROM cuts WHERE nl < n
        )
        SELECT k AS {key_col}, make_timestamp(us) AS cut_ts, nl AS n_l,
               nr AS n_r, ml / {float(scale)} AS mean_l,
               mr / {float(scale)} AS mean_r, sse_cost
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                       ORDER BY sse_cost, us) AS rn
          FROM scored
        ) WHERE rn = 1
    """


def survival_table(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    horizon_days: int = 7,
) -> DataFrame:
    """Discrete survival analysis of user lifetimes — the churn table a
    retention pipeline derives before any model: per-user lifetime =
    last activity minus first, a lifetime is an OBSERVED churn when the
    user has been silent for ``horizon_days`` before the corpus end
    (otherwise right-CENSORED — still alive at the data boundary, the
    Kaplan-Meier convention), the risk set at lifetime t is everyone who
    survived at least t, and the cumulative hazard is the Nelson-Aalen
    estimator ``H(t) = sum_{t' <= t} d_{t'} / n_{t'}``.

    Portability: lifetimes are integer DAYS (micros div 86400e6); the
    per-step hazard quantizes to an EXACT integer division
    ``(d * 1e6) div n_risk`` BEFORE the cumulative sum (the DESIGN.md
    never-SUM-raw-doubles rule — a double Σd/n would be
    accumulation-order-dependent), so ``na_cum_micro`` is an exact
    BIGINT in any engine; the double ``cum_hazard`` is one division at
    the output boundary. Risk sets are a reverse-cumulative window over
    the DISTINCT-lifetime relation (key-cardinality-sized).

    Output per lifetime: ``(t_days, n_risk, d_events, c_censored,
    na_cum_micro, cum_hazard)``.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    spans = df.groupBy(F.col(key_col).alias("k")).agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    )
    end = spans.agg(F.max("hi").alias("span_end"))
    day_us = 86400 * 1_000_000
    lt = spans.crossJoin(F.broadcast(end)).select(
        F.expr(f"(hi - lo) div {day_us}").alias("t_days"),
        (
            F.col("hi") <= F.col("span_end") - F.lit(horizon_days * day_us)
        ).alias("observed"),
    )
    per_t = lt.groupBy("t_days").agg(
        F.sum(F.col("observed").cast("bigint")).alias("d_events"),
        F.sum((~F.col("observed")).cast("bigint")).alias("c_censored"),
    )
    w_rev = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risked = per_t.select(
        "t_days",
        "d_events",
        "c_censored",
        F.sum(F.col("d_events") + F.col("c_censored")).over(w_rev).alias("n_risk"),
    ).select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        F.expr("(d_events * 1000000) div n_risk").alias("hz_micro"),
    )
    return risked.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        F.sum("hz_micro").over(w_cum).alias("na_cum_micro"),
    ).select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        "na_cum_micro",
        (F.col("na_cum_micro").cast("double") / F.lit(1e6)).alias("cum_hazard"),
    )


def rmst_table(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    horizon_days: int = 7,
    tau_days: int = 30,
) -> DataFrame:
    """Survival curve + restricted mean survival time (RMST) on top of
    :func:`survival_table` — "how many of the first ``tau_days`` days
    does an average user survive?", the retention KPI that (unlike a
    median lifetime) is defined even under heavy censoring. The curve is
    the Fleming–Harrington estimator ``S(t) = exp(-H(t))`` over the
    Nelson–Aalen cumulative hazard — the exp is the embedded integer
    table (``ml._EXP_TABLE``, the same clamp-shift bucket the Cox/
    Poisson fits index, CAPPED at exactly 1e6 because the table is
    midpoint-valued and would otherwise read S(0) ~ 1.064; hazards
    past the -8 clamp floor at the table edge ~335 micro), and RMST is
    the exact integral of the step curve truncated at ``tau_days``::

        RMST(tau) = t_min + sum_i S(t_i) * (min(t_{i+1}, tau) - min(t_i, tau))

    (the initial ``[0, t_min)`` segment survives at exactly 1.0; after
    the last observed lifetime S stays constant to tau — the standard
    truncated-integral convention). All terms are micro-day BIGINTs —
    quantize-before-sum, no double accumulation anywhere.

    Output per distinct lifetime: ``(t_days, n_risk, d_events,
    na_cum_micro, s_micro, rmst_cum_micro_days)`` — the LAST row's
    ``rmst_cum_micro_days`` is RMST(tau) in micro-days.

    Scale: inherits :func:`survival_table`'s posture (one unit rollup,
    windows over the DISTINCT-lifetime relation — bounded by the day
    span, the documented benign-window class).
    """
    st = survival_table(df, key_col, ts_col, horizon_days)
    return _rmst_from_survival(st, tau_days)


def _rmst_from_survival(st: DataFrame, tau_days: int) -> DataFrame:
    """The curve/integral algebra of :func:`rmst_table` over any
    relation with :func:`survival_table`'s columns — also consumed by
    the live twin (the streaming survival monitor's read-time relation
    has the same shape)."""
    from flink_example_spark.operators.ml import _EXP_TABLE, _exp_bucket_sql

    arr = F.array(*[F.lit(v) for v in _EXP_TABLE])
    s = st.select(
        "t_days",
        "n_risk",
        "d_events",
        "na_cum_micro",
        # the exp table is MIDPOINT-valued (the round-9 _exp_val(0)
        # lesson: bucket at z=0 reads ~1.0645e6) — cap at exactly 1e6 so
        # the survival curve is a genuine probability and RMST <= tau
        F.least(
            F.element_at(
                arr, F.expr(_exp_bucket_sql("-na_cum_micro")).cast("int")
            ),
            F.lit(1_000_000),
        ).alias("s_micro"),
    )
    w = Window.orderBy("t_days")
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tau = int(tau_days)
    seg = s.select(
        "t_days",
        "n_risk",
        "d_events",
        "na_cum_micro",
        "s_micro",
        (
            F.least(
                F.lead("t_days", default=tau).over(w), F.lit(tau)
            )
            - F.least(F.col("t_days"), F.lit(tau))
        ).alias("__seg"),
        F.min("t_days").over(
            Window.orderBy("t_days").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__t0"),
    )
    return seg.select(
        "t_days",
        "n_risk",
        "d_events",
        "na_cum_micro",
        "s_micro",
        (
            F.least(F.col("__t0"), F.lit(tau)) * F.lit(1_000_000)
            + F.sum(F.col("s_micro") * F.col("__seg")).over(w_cum)
        ).alias("rmst_cum_micro_days"),
    )


def rmst_table_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    horizon_days: int = 7,
    tau_days: int = 30,
) -> str:
    """DuckDB twin of :func:`rmst_table` (identical exp-table lookup,
    segment capping, and micro-day accumulation over the
    survival_table twin)."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"
    zc = (
        f"greatest(least(-na_cum_micro, {_EXP_CLAMP_HI - 1}),"
        f" {_EXP_CLAMP_LO})"
    )
    s_expr = f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"
    tau = int(tau_days)
    return f"""
        WITH st AS MATERIALIZED (
          {survival_table_oracle(table, key_col, ts_col, horizon_days)}
        ),
        s AS MATERIALIZED (
          SELECT t_days, n_risk, d_events, na_cum_micro,
                 CAST(least({s_expr}, 1000000) AS BIGINT) AS s_micro
          FROM st
        ),
        seg AS MATERIALIZED (
          SELECT t_days, n_risk, d_events, na_cum_micro, s_micro,
                 least(lead(t_days, 1, {tau}) OVER (ORDER BY t_days),
                       {tau})
                   - least(t_days, {tau}) AS __seg,
                 MIN(t_days) OVER () AS __t0
          FROM s
        )
        SELECT t_days, n_risk, d_events, na_cum_micro, s_micro,
               CAST(least(__t0, {tau}) * 1000000
                    + SUM(s_micro * __seg) OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS rmst_cum_micro_days
        FROM seg
    """


def survival_table_oracle(
    table: str, key_col: str, ts_col: str, horizon_days: int = 7
) -> str:
    """DuckDB twin of :func:`survival_table`."""
    day_us = 86400 * 1_000_000
    return f"""
        WITH spans AS (
          SELECT {key_col} AS k, MIN(epoch_us({ts_col})) AS lo,
                 MAX(epoch_us({ts_col})) AS hi
          FROM {table} GROUP BY 1
        ), e AS (SELECT MAX(hi) AS span_end FROM spans),
        lt AS (
          SELECT (hi - lo) // {day_us} AS t_days,
                 hi <= span_end - {horizon_days * day_us} AS observed
          FROM spans CROSS JOIN e
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
               CAST(SUM((d_events * 1000000) // n_risk) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS na_cum_micro,
               CAST(SUM((d_events * 1000000) // n_risk) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1e6 AS cum_hazard
        FROM risked
    """


def theil_sen(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Theil–Sen robust trend per key: the median of all pairwise slopes
    ``(v_j - v_i) / (day_j - day_i)`` over the DAILY-bucketed series, plus
    the median-residual intercept — the estimator with a 29% breakdown
    point that shrugs off the outliers OLS (ml.linear_fit) chases.

    The daily pre-bucketing (MAX per day — comparison-only, portable on
    raw doubles) bounds the quadratic pair stage: n_days² pairs per key,
    never n_obs². Every slope is one exactly-rounded double division on
    exactly-rounded subtractions, and both medians use the same
    interpolated-percentile device as :func:`rolling_median`
    (F.percentile ↔ QUANTILE_CONT) — cross-engine identical.

    Output: ``(key, n_days, slope_per_day, intercept)``.

    Scale: one hash-agg to days, one bounded per-key self-join (days²),
    two percentile aggregations. Keys parallelize independently; for
    multi-year series bucket to weeks before widening the pair window.
    """
    day_us = 86_400_000_000
    daily = (
        _obs(df, key_col, ts_col, value_col)
        .withColumn("day", F.expr(f"us div {day_us}"))
        .groupBy("key", "day")
        .agg(F.max("v").alias("v"))
        .localCheckpoint()  # pairs (both sides) + residual join
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.day") < F.col("b.day")))
        .select(
            F.col("a.key").alias("key"),
            (
                (F.col("b.v") - F.col("a.v"))
                / (F.col("b.day") - F.col("a.day")).cast("double")
            ).alias("s"),
        )
        .groupBy("key")
        .agg(F.percentile(F.col("s"), F.lit(0.5)).alias("slope"))
    )
    resid = (
        daily.join(slopes, "key")
        .select(
            "key",
            "slope",
            (F.col("v") - F.col("slope") * F.col("day").cast("double")).alias("r"),
        )
        .groupBy("key", "slope")
        .agg(
            F.percentile(F.col("r"), F.lit(0.5)).alias("intercept"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    return resid.select(
        "key",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("slope").alias("slope_per_day"),
        "intercept",
    )


def theil_sen_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`theil_sen`."""
    day_us = 86_400_000_000
    return f"""
        WITH obs AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 MAX(v) AS v
          FROM (
            SELECT {key_col}, {ts_col}, epoch_us({ts_col}) AS us,
                   {value_col} AS v
            FROM {table} WHERE {value_col} IS NOT NULL
          ) GROUP BY 1, 2
        ),
        daily AS MATERIALIZED (
          SELECT key, day, MAX(v) AS v FROM obs GROUP BY 1, 2
        ),
        slopes AS MATERIALIZED (
          SELECT a.key,
                 QUANTILE_CONT((b.v - a.v) / CAST(b.day - a.day AS DOUBLE), 0.5)
                   AS slope
          FROM daily a JOIN daily b ON a.key = b.key AND a.day < b.day
          GROUP BY a.key
        )
        SELECT d.key, CAST(COUNT(*) AS BIGINT) AS n_days,
               s.slope AS slope_per_day,
               QUANTILE_CONT(d.v - s.slope * CAST(d.day AS DOUBLE), 0.5)
                 AS intercept
        FROM daily d JOIN slopes s ON s.key = d.key
        GROUP BY d.key, s.slope
    """


def ar2_forecast(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key AR(2) one-step forecast by conditional least squares, in
    PURE INTEGER arithmetic end to end (zero float risk cross-engine).

    The daily series (MAX per day — comparison-only, portable) is
    quantized to centi-units ``vq = floor(v*100 + 0.5)`` (one exact
    double multiply + floor, identical everywhere), then x_t is regressed
    on (1, x_{t-1}, x_{t-2}) over the lag-aligned triples:

    - sufficient sums are exact BIGINT monoids (products <= 3.2e9/row);
    - the centered 2x2 normal equations solve by Cramer in DECIMAL(38,0)
      (operands cast DECIMAL(19,0) first so products stay exact);
    - coefficients leave as ``phi*_ppm = (N_i * 1e6) div D`` — both Spark
      ``div`` and DuckDB ``//`` truncate toward zero, so the quotients
      are bit-identical BIGINTs (quotient magnitude ~1e6, far inside
      int64);
    - intercept and the one-step forecast stay in BIGINT ppm-units.

    Output: (key, n_triples, phi1_ppm, phi2_ppm, forecast_centi) — the
    forecast for the day after the last observation, in centi-units.

    Scale: one day-bucket hash-agg, one per-key window pass, one final
    group-count-sized aggregation. Keys parallelize independently; the
    sufficient sums are plain commutative monoids, so the same relation
    streams as one JVM aggregation (map-side partials everywhere).
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.col(value_col).alias("v"),
        )
        .groupBy("key", "day")
        .agg(F.max("v").alias("v"))
        .select(
            "key", "day", F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)").alias("vq")
        )
    )
    w = Window.partitionBy("key").orderBy("day")
    triples = (
        daily.withColumn("rn", F.row_number().over(w))
        .withColumn("a", F.lag("vq", 1).over(w))
        .withColumn("b", F.lag("vq", 2).over(w))
        .filter(F.col("b").isNotNull())
    )
    s = triples.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vq").alias("sy"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("vq")).alias("say"),
        F.sum(F.col("b") * F.col("vq")).alias("sby"),
        F.max_by("vq", "rn").alias("x_last"),
        F.max_by("a", "rn").alias("x_prev"),
    )
    c = (
        s.withColumn("caa", F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .withColumn("cbb", F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .withColumn("cab", F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .withColumn("cay", F.col("n") * F.col("say") - F.col("sa") * F.col("sy"))
        .withColumn("cby", F.col("n") * F.col("sby") - F.col("sb") * F.col("sy"))
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    solved = (
        c.withColumn(
            "d",
            F.expr(
                f"{dec.format('caa')} * {dec.format('cbb')}"
                f" - {dec.format('cab')} * {dec.format('cab')}"
            ),
        )
        .filter(F.expr("d > 0") & (F.col("n") >= 3))
        .withColumn(
            "phi1_ppm",
            F.expr(
                f"CAST((({dec.format('cay')} * {dec.format('cbb')}"
                f" - {dec.format('cby')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn(
            "phi2_ppm",
            F.expr(
                f"CAST((({dec.format('cby')} * {dec.format('caa')}"
                f" - {dec.format('cay')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn(
            "c_cppm",
            F.expr(
                "(sy * 1000000 - phi1_ppm * sa - phi2_ppm * sb) div n"
            ),
        )
        .withColumn(
            "forecast_cppm",
            F.expr("c_cppm + phi1_ppm * x_last + phi2_ppm * x_prev"),
        )
    )
    return solved.select(
        "key",
        F.col("n").cast("long").alias("n_triples"),
        "phi1_ppm",
        "phi2_ppm",
        F.expr("forecast_cppm div 1000000").alias("forecast_centi"),
    )


def ar2_forecast_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`ar2_forecast` — HUGEINT Cramer solve, ``//``
    truncation matching Spark's ``div``."""
    day_us = 86_400_000_000
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(floor(MAX({value_col}) * 100 + 0.5) AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        triples AS MATERIALIZED (
          SELECT key, vq, rn,
                 lag(vq, 1) OVER w AS a, lag(vq, 2) OVER w AS b
          FROM (
            SELECT key, day, vq,
                   row_number() OVER (PARTITION BY key ORDER BY day) AS rn
            FROM daily
          ) WINDOW w AS (PARTITION BY key ORDER BY rn)
        ),
        s AS (
          SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(vq) AS BIGINT) AS sy,
                 CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
                 CAST(SUM(a*a) AS BIGINT) AS saa,
                 CAST(SUM(b*b) AS BIGINT) AS sbb,
                 CAST(SUM(a*b) AS BIGINT) AS sab,
                 CAST(SUM(a*vq) AS BIGINT) AS say,
                 CAST(SUM(b*vq) AS BIGINT) AS sby,
                 max_by(vq, rn) AS x_last, max_by(a, rn) AS x_prev
          FROM triples WHERE b IS NOT NULL GROUP BY 1
        ),
        ctr AS (
          SELECT key, n, sy, sa, sb, x_last, x_prev,
                 CAST(n*saa - sa*sa AS HUGEINT) AS caa,
                 CAST(n*sbb - sb*sb AS HUGEINT) AS cbb,
                 CAST(n*sab - sa*sb AS HUGEINT) AS cab,
                 CAST(n*say - sa*sy AS HUGEINT) AS cay,
                 CAST(n*sby - sb*sy AS HUGEINT) AS cby
          FROM s
        ),
        solved AS (
          SELECT key, n, sy, sa, sb, x_last, x_prev,
                 caa*cbb - cab*cab AS d,
                 CAST(((cay*cbb - cby*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS phi1_ppm,
                 CAST(((cby*caa - cay*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS phi2_ppm
          FROM ctr WHERE caa*cbb - cab*cab > 0 AND n >= 3
        )
        SELECT key, n AS n_triples, phi1_ppm, phi2_ppm,
               (((sy * 1000000 - phi1_ppm * sa - phi2_ppm * sb) // n)
                + phi1_ppm * x_last + phi2_ppm * x_prev) // 1000000
                 AS forecast_centi
        FROM solved
    """


def interval_merge(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    dur_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Coalesce overlapping per-key intervals ``[ts, ts + dur_col minutes)``
    into maximal islands — the interval-algebra union underlying uptime /
    coverage / utilization reports, where plain sessionization (lag-gap)
    is wrong because a LONG interval can swallow later-starting ones.

    Device: order by (start, id); an interval opens a new island iff its
    start exceeds the running max of all PRIOR ends (not just the previous
    row's); island id = running sum of those flags. All arithmetic is
    integer micros (``unix_micros`` ↔ ``epoch_us``; durations quantized
    ``floor(v*6e7 + 0.5)``), so both engines hash identically.

    Output: (key, n_intervals, n_islands, covered_us, max_island_us).

    Scale: two window passes + one hash agg, all partitioned by key — keys
    parallelize independently and nothing leaves the key's partition; a
    skewed key bounds the sequential portion exactly as in the reference's
    per-key ordered state (SURVEY §2.7 T6 analogue).
    """
    base = df.filter(F.col(dur_col).isNotNull()).select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("s"),
        (
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
            + F.expr(f"CAST(floor({dur_col} * 60000000 + 0.5) AS BIGINT)")
        ).alias("e"),
    )
    w = Window.partitionBy("key").orderBy("s", "id")
    prior_max = (
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = base.withColumn(
        "new_island",
        F.when(prior_max.isNull() | (F.col("s") > prior_max), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("key", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("i_n"),
    )
    return islands.groupBy("key").agg(
        F.sum("i_n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("long").alias("covered_us"),
        F.max(F.col("i_end") - F.col("i_start")).cast("long").alias("max_island_us"),
    )


def interval_merge_oracle(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    dur_col: str = "value",
    id_col: str = "event_id",
) -> str:
    """DuckDB twin of :func:`interval_merge` (running-max-of-prior-ends
    gaps-and-islands)."""
    return f"""
        WITH base AS MATERIALIZED (
          SELECT {key_col} AS key, {id_col} AS id,
                 epoch_us({ts_col}) AS s,
                 epoch_us({ts_col})
                   + CAST(floor({dur_col} * 60000000 + 0.5) AS BIGINT) AS e
          FROM {table} WHERE {dur_col} IS NOT NULL
        ),
        flagged AS (
          SELECT key, id, s, e,
                 CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS new_island
          FROM (
            SELECT key, id, s, e,
                   MAX(e) OVER (PARTITION BY key ORDER BY s, id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
            FROM base
          )
        ),
        numbered AS (
          SELECT key, s, e,
                 SUM(new_island) OVER (PARTITION BY key ORDER BY s, id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS island
          FROM flagged
        ),
        islands AS (
          SELECT key, island, MIN(s) AS i_start, MAX(e) AS i_end,
                 COUNT(*) AS i_n
          FROM numbered GROUP BY 1, 2
        )
        SELECT key, CAST(SUM(i_n) AS BIGINT) AS n_intervals,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
               CAST(MAX(i_end - i_start) AS BIGINT) AS max_island_us
        FROM islands GROUP BY key
    """


def granger_screen(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Pairwise Granger-causality screen over the per-key daily series:
    for every ordered pair (cause x, effect y), does x's lag-1 improve
    the prediction of y beyond y's own lag-1? The classic lead/lag
    dependency scan a metrics warehouse runs across KPI pairs.

    Entirely in the repo's exact-integer regression calculus:

    - daily values are SUMS of centi-quantized observations (integer
      monoid — order-free in any engine);
    - the pair series aligns on days present in BOTH keys; lag-1 rows
      come from one ordered window per pair;
    - the UNRESTRICTED model ``y_t ~ (1, y_{t-1}, x_{t-1})`` solves by
      the ar2 Cramer device (DECIMAL(38) cross-terms, ppm trunc-div
      coefficients); the RESTRICTED model ``y_t ~ (1, y_{t-1})`` reuses
      the same sufficient sums;
    - per-row residuals are exact cppm integers, quantized back to
      centi-units BEFORE squaring (quantize-before-cumsum rule), so both
      SSEs are engine-identical BIGINTs;
    - ``improve_ppm = (sse_r - sse_u) * 1e6 div sse_r`` is the variance
      the cause's lag explains — the Granger statistic's numerator in
      exact ppm (rank pairs by it; the F-test's df scaling is monotone
      in it at fixed n).

    Output per ordered pair: ``(cause, effect, n, gamma_ppm, sse_r,
    sse_u, improve_ppm)``.

    Scale: one day-bucket hash-agg, one pair equi-join on (day), one
    window per pair, two pair-count-sized aggregations. Pairs
    parallelize independently.
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    return granger_from_daily(daily)


def granger_from_daily(daily: DataFrame) -> DataFrame:
    """Granger computation over a pre-aggregated ``(key, day, vq)`` daily
    relation — split out so the LIVE twin (whose only stateful ingredient
    is exactly this daily-sum monoid) reuses the identical read-time
    expressions."""
    a = daily.select(
        F.col("key").alias("cause"), "day", F.col("vq").alias("xv")
    )
    b = daily.select(
        F.col("key").alias("effect"), "day", F.col("vq").alias("yv")
    )
    pair = a.join(b, "day").filter(F.col("cause") != F.col("effect"))
    w = Window.partitionBy("cause", "effect").orderBy("day")
    rows = (
        pair.withColumn("y1", F.lag("yv").over(w))
        .withColumn("x1", F.lag("xv").over(w))
        .filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
        .select("cause", "effect", "yv", "y1", "x1")
        .localCheckpoint(eager=False)
    )
    s = rows.groupBy("cause", "effect").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yv").alias("sy"),
        F.sum("y1").alias("sa"),
        F.sum("x1").alias("sb"),
        F.sum(F.col("y1") * F.col("y1")).alias("saa"),
        F.sum(F.col("x1") * F.col("x1")).alias("sbb"),
        F.sum(F.col("y1") * F.col("x1")).alias("sab"),
        F.sum(F.col("y1") * F.col("yv")).alias("say"),
        F.sum(F.col("x1") * F.col("yv")).alias("sby"),
    )
    c = (
        s.withColumn("caa", F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .withColumn("cbb", F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .withColumn("cab", F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .withColumn("cay", F.col("n") * F.col("say") - F.col("sa") * F.col("sy"))
        .withColumn("cby", F.col("n") * F.col("sby") - F.col("sb") * F.col("sy"))
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    solved = (
        c.withColumn(
            "d",
            F.expr(
                f"{dec.format('caa')} * {dec.format('cbb')}"
                f" - {dec.format('cab')} * {dec.format('cab')}"
            ),
        )
        .filter(F.expr("d > 0") & (F.col("n") >= 4) & F.expr("caa > 0"))
        .withColumn(
            "phi_ppm",
            F.expr(
                f"CAST((({dec.format('cay')} * {dec.format('cbb')}"
                f" - {dec.format('cby')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn(
            "gamma_ppm",
            F.expr(
                f"CAST((({dec.format('cby')} * {dec.format('caa')}"
                f" - {dec.format('cay')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn(
            "c_u_cppm",
            F.expr("(sy * 1000000 - phi_ppm * sa - gamma_ppm * sb) div n"),
        )
        .withColumn(
            "phi_r_ppm",
            F.expr(
                f"CAST(({dec.format('cay')} * 1000000)"
                f" div {dec.format('caa')} AS BIGINT)"
            ),
        )
        .withColumn(
            "c_r_cppm", F.expr("(sy * 1000000 - phi_r_ppm * sa) div n")
        )
        .localCheckpoint(eager=False)
    )
    fits = solved.select(
        "cause", "effect", "n", "phi_ppm", "gamma_ppm", "c_u_cppm",
        "phi_r_ppm", "c_r_cppm",
    )
    scored = rows.join(F.broadcast(fits), ["cause", "effect"]).select(
        "cause",
        "effect",
        "n",
        "gamma_ppm",
        F.expr(
            "(yv * 1000000 - c_u_cppm - phi_ppm * y1 - gamma_ppm * x1)"
            " div 1000000"
        ).alias("ru"),
        F.expr(
            "(yv * 1000000 - c_r_cppm - phi_r_ppm * y1) div 1000000"
        ).alias("rr"),
    )
    sse = scored.groupBy("cause", "effect", "n", "gamma_ppm").agg(
        F.sum(F.col("rr") * F.col("rr")).alias("sse_r"),
        F.sum(F.col("ru") * F.col("ru")).alias("sse_u"),
    )
    return sse.select(
        "cause",
        "effect",
        F.col("n").cast("long").alias("n"),
        "gamma_ppm",
        "sse_r",
        "sse_u",
        F.expr(
            "CASE WHEN sse_r > 0 THEN ((sse_r - sse_u) * 1000000) div sse_r END"
        ).alias("improve_ppm"),
    )


def granger_screen_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`granger_screen` (HUGEINT Cramer, ``//``
    truncation)."""
    day_us = 86_400_000_000
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        rows_ AS MATERIALIZED (
          SELECT * FROM (
            SELECT a.key AS cause, b.key AS effect, a.day, b.vq AS yv,
                   lag(b.vq) OVER w AS y1, lag(a.vq) OVER w AS x1
            FROM daily a JOIN daily b USING (day)
            WHERE a.key <> b.key
            WINDOW w AS (PARTITION BY a.key, b.key ORDER BY a.day)
          ) WHERE y1 IS NOT NULL AND x1 IS NOT NULL
        ),
        s AS (
          SELECT cause, effect, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(yv) AS BIGINT) AS sy,
                 CAST(SUM(y1) AS BIGINT) AS sa,
                 CAST(SUM(x1) AS BIGINT) AS sb,
                 CAST(SUM(y1*y1) AS BIGINT) AS saa,
                 CAST(SUM(x1*x1) AS BIGINT) AS sbb,
                 CAST(SUM(y1*x1) AS BIGINT) AS sab,
                 CAST(SUM(y1*yv) AS BIGINT) AS say,
                 CAST(SUM(x1*yv) AS BIGINT) AS sby
          FROM rows_ GROUP BY 1, 2
        ),
        ctr AS (
          SELECT *, CAST(n*saa - sa*sa AS HUGEINT) AS caa,
                 CAST(n*sbb - sb*sb AS HUGEINT) AS cbb,
                 CAST(n*sab - sa*sb AS HUGEINT) AS cab,
                 CAST(n*say - sa*sy AS HUGEINT) AS cay,
                 CAST(n*sby - sb*sy AS HUGEINT) AS cby
          FROM s
        ),
        fits AS MATERIALIZED (
          SELECT cause, effect, n, sy, sa,
                 CAST(((cay*cbb - cby*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS phi_ppm,
                 CAST(((cby*caa - cay*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS gamma_ppm,
                 CAST((cay * 1000000) // caa AS BIGINT) AS phi_r_ppm
          FROM ctr
          WHERE caa*cbb - cab*cab > 0 AND n >= 4 AND caa > 0
        ),
        fits2 AS (
          SELECT *,
                 (sy * 1000000 - phi_ppm * sa - gamma_ppm * sb) // n
                   AS c_u_cppm,
                 (sy * 1000000 - phi_r_ppm * sa) // n AS c_r_cppm
          FROM (SELECT f.*, s.sb FROM fits f JOIN s USING (cause, effect)) f2
        ),
        scored AS (
          SELECT r.cause, r.effect, f.n, f.gamma_ppm,
                 (r.yv * 1000000 - f.c_u_cppm - f.phi_ppm * r.y1
                  - f.gamma_ppm * r.x1) // 1000000 AS ru,
                 (r.yv * 1000000 - f.c_r_cppm - f.phi_r_ppm * r.y1)
                   // 1000000 AS rr
          FROM rows_ r JOIN fits2 f USING (cause, effect)
        ),
        sse AS (
          SELECT cause, effect, n, gamma_ppm,
                 CAST(SUM(rr*rr) AS BIGINT) AS sse_r,
                 CAST(SUM(ru*ru) AS BIGINT) AS sse_u
          FROM scored GROUP BY 1, 2, 3, 4
        )
        SELECT cause, effect, n, gamma_ppm, sse_r, sse_u,
               CASE WHEN sse_r > 0 THEN ((sse_r - sse_u) * 1000000) // sse_r
               END AS improve_ppm
        FROM sse
    """


def _holt_sql(series: str, divop: str) -> str:
    """Shared Holt recursive-CTE text, parameterized ONLY by the
    truncating-division token (Spark ``div`` vs DuckDB ``//``) — every
    other character identical in both engines."""
    lnew = f"(s.vq * 1000000 + 3 * (h.l + h.b)) {divop} 4"
    return f"""
        WITH RECURSIVE holt(key, rn, l, b) AS (
          SELECT key, rn, vq * 1000000, CAST(0 AS BIGINT)
          FROM {series} WHERE rn = 1
          UNION ALL
          SELECT s.key, s.rn,
                 {lnew},
                 (({lnew}) - h.l + 3 * h.b) {divop} 4
          FROM holt h JOIN {series} s ON s.key = h.key AND s.rn = h.rn + 1
        )
        SELECT key, CAST(MAX(rn) AS BIGINT) AS n_days,
               max_by(l, rn) {divop} 1000000 AS level_centi,
               max_by(b, rn) {divop} 1000000 AS trend_centi,
               (max_by(l, rn) + max_by(b, rn)) {divop} 1000000
                 AS forecast_centi
        FROM holt GROUP BY key
    """


def holt_forecast(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha = beta =
    1/4) per key over the daily series — the trend-aware upgrade of
    ``ewma_smooth`` and the workhorse short-horizon forecaster.

    The coupled recurrence ``l_t = alpha*v_t + (1-alpha)(l+b)``,
    ``b_t = beta*(l_t - l) + (1-beta)*b`` is genuinely sequential, so it
    runs as a RECURSIVE CTE (the reachability device: Catalyst owns the
    iteration; one join per step against the rn-indexed series) — the
    SAME query text modulo the truncating-division token runs in DuckDB,
    and because state lives in exact micro-unit BIGINTs with rational
    smoothing (quarters, trunc-div per step), both engines reproduce
    every step bit-for-bit. No floats anywhere.

    Output per key: ``(key, n_days, level_centi, trend_centi,
    forecast_centi)`` — the smoothed level/trend after the last day and
    the one-step-ahead forecast, in centi-units.

    Scale: recursion depth = series length (days), each step a keyed
    equi-join on the rn-indexed relation; keys advance in parallel
    within each step.
    """
    series = _holt_series(df, key_col, ts_col, value_col).localCheckpoint()
    # DRIVER-SIDE recurrence (round-12 device: model-sized iterative
    # solves move to the driver BIT-EQUAL when every op is exact integer
    # arithmetic). The daily series is keys x calendar-days — bounded by
    # the key VOCABULARY and the time span, so it is only driver-sized
    # when key_col is low-cardinality; a high-cardinality key makes the
    # collect data-sized, so the collect is SIZE-GATED (r15): above
    # SPARK_GRAFT_HOLT_LOCAL_MAX rows the in-engine recursive-CTE form
    # runs instead (one join per day; the r14 parity witness, bit-equal
    # by tests/test_timeseries.py::test_holt_driver_matches_recursive_cte).
    # _tdiv reproduces the SQL trunc-division token (Spark `div` /
    # pinned-DuckDB integer `//`) exactly.
    import os

    if series.count() > int(
        os.environ.get("SPARK_GRAFT_HOLT_LOCAL_MAX", "1000000")
    ):
        return _holt_recursive_from(series)
    rows = series.collect()
    state: dict = {}
    # rn order within each key is all the fold needs; keys advance
    # independently. A NULL key matches the recursive-CTE witness
    # semantics: the step join's `key = key` predicate is never true for
    # NULL, so that group stays at its rn=1 seed row.
    for r in sorted(rows, key=lambda r: r["rn"]):
        k, vq = r["key"], int(r["vq"])
        if k is None and r["rn"] > 1:
            continue
        if r["rn"] == 1:
            state[k] = [1, vq * 1_000_000, 0]
        else:
            n, l, b = state[k]
            lnew = _tdiv(vq * 1_000_000 + 3 * (l + b), 4)
            state[k] = [n + 1, lnew, _tdiv(lnew - l + 3 * b, 4)]
    out = [
        (k, n, _tdiv(l, 1_000_000), _tdiv(b, 1_000_000), _tdiv(l + b, 1_000_000))
        for k, (n, l, b) in sorted(
            state.items(), key=lambda kv: (kv[0] is None, kv[0])
        )
    ]
    from pyspark.sql.types import LongType, StructField, StructType

    from flink_example_spark.operators.util import local_df

    # derive the key type from the series schema (a non-string key_col
    # must keep the same output schema as the recursive-CTE form)
    schema = StructType(
        [StructField("key", series.schema["key"].dataType)]
        + [
            StructField(n, LongType())
            for n in ("n_days", "level_centi", "trend_centi", "forecast_centi")
        ]
    )
    return local_df(df.sparkSession, out, schema)


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — the semantics of both
    engines' SQL tokens (Spark ``div``, pinned-DuckDB integer ``//``);
    Python ``//`` FLOORS, so negative numerators need the sign-magnitude
    form (the round-8 rule, driver-side edition)."""
    return -((-a) // b) if a < 0 else a // b


def _holt_series(
    df: DataFrame, key_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """The rn-indexed daily series the Holt recurrence folds over (shared
    by the driver path and the in-engine recursive-CTE parity test)."""
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    w = Window.partitionBy("key").orderBy("day")
    return daily.withColumn("rn", F.row_number().over(w)).select(
        "key", "rn", "vq"
    )


def holt_forecast_recursive(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The original in-engine recursive-CTE Holt (one join job per day) —
    the executable parity witness for the driver-side port AND the
    above-bound path of its size gate."""
    # the recursion scans the series once per step — checkpoint the build
    return _holt_recursive_from(
        _holt_series(df, key_col, ts_col, value_col).localCheckpoint()
    )


def _holt_recursive_from(series: DataFrame) -> DataFrame:
    """In-engine recursive-CTE Holt over an already-checkpointed series."""
    import uuid

    name = f"holt_series_{uuid.uuid4().hex[:8]}"
    series.createOrReplaceTempView(name)
    return series.sparkSession.sql(_holt_sql(name, "div"))


def holt_forecast_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`holt_forecast` — same recursive text with
    ``//`` truncation."""
    day_us = 86_400_000_000
    series = f"""(
        SELECT key, ROW_NUMBER() OVER (PARTITION BY key ORDER BY day) AS rn,
               vq
        FROM (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        )
    )"""
    return _holt_sql(series, "//")


def locf_fill(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Gap-filled daily resample with last-observation-carried-forward —
    the hypertable ``time_bucket_gapfill(..., locf(...))`` staple: missing
    days materialize explicitly and inherit the most recent observed
    value, so downstream windows see a dense, honest grid.

    Each key's grid spans ITS OWN [first, last] observed day (explode of
    an integer sequence — day indices ascend, so the ANSI ``sequence``
    descending trap cannot fire); observed days carry the centi-quantized
    daily sum; filled days take ``last(value) IGNORE NULLS`` over the
    ordered grid (Spark ``F.last(ignorenulls=True)`` == DuckDB
    ``last_value IGNORE NULLS`` — both engines define it as the most
    recent non-null in frame order). ``is_filled`` keeps the imputation
    auditable.

    Output: ``(key, day, value_centi, is_filled)`` — one row per key per
    grid day.

    Scale: the grid is (keys x span-days)-sized — calendar-sized, not
    event-sized; one window per key over that grid.
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    spans = daily.groupBy("key").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = spans.select(
        "key", F.explode(F.expr("sequence(lo, hi)")).alias("day")
    )
    joined = grid.join(daily, ["key", "day"], "left")
    w = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "key",
        F.col("day").cast("long").alias("day"),
        F.last("vq", ignorenulls=True).over(w).alias("value_centi"),
        F.col("vq").isNull().cast("long").alias("is_filled"),
    )


def locf_fill_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`locf_fill`."""
    day_us = 86_400_000_000
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ),
        grid AS (
          SELECT key, unnest(range(lo, hi + 1)) AS day
          FROM (SELECT key, MIN(day) AS lo, MAX(day) AS hi
                FROM daily GROUP BY 1)
        )
        SELECT g.key, CAST(g.day AS BIGINT) AS day,
               last_value(d.vq IGNORE NULLS) OVER (
                 PARTITION BY g.key ORDER BY g.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_centi,
               CAST(CASE WHEN d.vq IS NULL THEN 1 ELSE 0 END AS BIGINT)
                 AS is_filled
        FROM grid g LEFT JOIN daily d ON d.key = g.key AND d.day = g.day
    """


def logrank_screen(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    group_pred: "F.Column",
    horizon_days: int = 7,
) -> DataFrame:
    """Two-cohort survival comparison — the log-rank score statistic's
    numerator ``sum_t (O1_t - E1_t)``, the standard "does cohort 1 churn
    faster" screen on top of :func:`survival_table`'s lifetime/censoring
    machinery (same day quantization, same risk-set windows, same
    Kaplan-Meier censoring convention).

    At every distinct event time t: observed cohort-1 deaths ``O1_t``
    are exact integers; the expectation under the null ``E1_t =
    d_t * n1_t / n_t`` quantizes to ``(d_t * n1_t * 1e6) div n_t``
    BEFORE the cumulative sum (the Nelson-Aalen
    quantize-before-cumsum rule), so the reported score is an exact
    BIGINT. Sign: positive ``oe_diff_micro`` = cohort 1 died MORE than
    expected = churns faster.

    Output one row: ``(n_times, d_total, o1_total, e1_total_micro,
    oe_diff_micro)``.

    Scale: one span aggregation per user, lifetime-cardinality-sized
    windows — identical posture to ``survival_table``.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day_us = 86400 * 1_000_000
    spans = df.groupBy(F.col(key_col).alias("k")).agg(
        F.min(us).alias("lo"),
        F.max(us).alias("hi"),
        F.max(group_pred.cast("bigint")).alias("g1"),
    )
    end = spans.agg(F.max("hi").alias("span_end"))
    lt = spans.crossJoin(F.broadcast(end)).select(
        F.expr(f"(hi - lo) div {day_us}").alias("t_days"),
        (
            F.col("hi") <= F.col("span_end") - F.lit(horizon_days * day_us)
        ).cast("bigint").alias("obs"),
        F.col("g1"),
    )
    per_t = lt.groupBy("t_days").agg(
        F.sum("obs").alias("d"),
        F.sum(F.col("obs") * F.col("g1")).alias("o1"),
        F.count(F.lit(1)).alias("all_at_t"),
        F.sum("g1").alias("g1_at_t"),
    )
    w_rev = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risked = per_t.select(
        "t_days",
        "d",
        "o1",
        F.sum("all_at_t").over(w_rev).alias("n"),
        F.sum("g1_at_t").over(w_rev).alias("n1"),
    ).filter(F.col("d") > 0)
    scored = risked.select(
        "d",
        "o1",
        F.expr("(d * n1 * 1000000) div n").alias("e1_micro"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum("d").cast("long").alias("d_total"),
        F.sum("o1").cast("long").alias("o1_total"),
        F.sum("e1_micro").cast("long").alias("e1_total_micro"),
        (F.sum(F.expr("o1 * 1000000")) - F.sum("e1_micro"))
        .cast("long")
        .alias("oe_diff_micro"),
    )


def logrank_screen_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    group_sql: str,
    horizon_days: int = 7,
) -> str:
    """DuckDB twin of :func:`logrank_screen`."""
    day_us = 86400 * 1_000_000
    return f"""
        WITH spans AS MATERIALIZED (
          SELECT {key_col} AS k, MIN(epoch_us({ts_col})) AS lo,
                 MAX(epoch_us({ts_col})) AS hi,
                 MAX(CAST(({group_sql}) AS BIGINT)) AS g1
          FROM {table} GROUP BY 1
        ),
        lt AS (
          SELECT (hi - lo) // {day_us} AS t_days,
                 CAST(hi <= (SELECT MAX(hi) FROM spans)
                        - {horizon_days * day_us} AS BIGINT) AS obs,
                 g1
          FROM spans
        ),
        per_t AS (
          SELECT t_days, CAST(SUM(obs) AS BIGINT) AS d,
                 CAST(SUM(obs * g1) AS BIGINT) AS o1,
                 CAST(COUNT(*) AS BIGINT) AS all_at_t,
                 CAST(SUM(g1) AS BIGINT) AS g1_at_t
          FROM lt GROUP BY 1
        ),
        risked AS (
          SELECT t_days, d, o1,
                 CAST(SUM(all_at_t) OVER (ORDER BY t_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n,
                 CAST(SUM(g1_at_t) OVER (ORDER BY t_days
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n1
          FROM per_t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
               CAST(SUM(d) AS BIGINT) AS d_total,
               CAST(SUM(o1) AS BIGINT) AS o1_total,
               CAST(SUM((d * n1 * 1000000) // n) AS BIGINT) AS e1_total_micro,
               CAST(SUM(o1 * 1000000) - SUM((d * n1 * 1000000) // n)
                 AS BIGINT) AS oe_diff_micro
        FROM risked WHERE d > 0
    """


def _dct_basis(n_points: int, n_freqs: int, scale: int = 10_000):
    """Integer DCT-II basis (u, i, round(cos((2i+1)u*pi/(2N))*scale)) —
    the driver-embedded-literal device (multimodal._phash_k): computed
    once in Python, embedded in BOTH engines' plans, libm never runs
    inside either engine."""
    import math

    return [
        (u, i, round(math.cos((2 * i + 1) * u * math.pi / (2 * n_points)) * scale))
        for u in range(1, n_freqs + 1)
        for i in range(n_points)
    ]


def spectral_peak(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    n_points: int = 24,
    n_freqs: int = 8,
) -> DataFrame:
    """Dominant-cycle detector per key: integer DCT-II over the LAST ``n_points`` observed days of the (mean-centered) daily series — the
    "is there a weekly rhythm" screen behind seasonality-aware anomaly
    rules, sharing the spectral machinery of the image/audio
    fingerprints (the embedded-cosine-literal device, so no engine
    evaluates a transcendental).

    Exactness: the window is the rank-from-end rows (deterministic);
    values center by the trunc-div window mean (exact integers), each
    coefficient is ``sum(vq_centered * k[u][i])`` — an exact BIGINT —
    and the peak is argmax by (|coef|, u) row_number, a total order.
    Energy ratio ``peak_ppm = |peak| * 1e6 div sum|coef|`` is one
    trunc-div.

    Output per key: ``(key, n_used, peak_u, peak_coef_abs, peak_ppm)``
    (keys with fewer than ``n_points`` days are skipped — a short
    window would alias).

    Scale: day-bucket agg, one per-key ranking window, one broadcast
    basis join (n_freqs x n_points literal rows), one argmax.
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    w_end = Window.partitionBy("key").orderBy(F.col("day").desc())
    tail = (
        daily.withColumn("rn", F.row_number().over(w_end))
        .filter(F.col("rn") <= n_points)
        # i = chronological index 0..n_points-1 within the tail
        .withColumn("i", F.lit(n_points) - F.col("rn"))
    )
    wk = Window.partitionBy("key")
    centered = (
        tail.withColumn("n_used", F.count(F.lit(1)).over(wk))
        .filter(F.col("n_used") == n_points)
        .withColumn("mu", F.expr("sum(vq) over (partition by key) div " + str(n_points)))
        .withColumn("cv", F.col("vq") - F.col("mu"))
    )
    basis = local_df(df.sparkSession, _dct_basis(n_points, n_freqs), "u int, i int, k long")
    coefs = (
        centered.join(F.broadcast(basis), "i")
        .groupBy("key", "u")
        .agg(F.sum(F.col("cv") * F.col("k")).alias("coef"))
        .withColumn("a", F.abs(F.col("coef")))
    )
    wtot = Window.partitionBy("key")
    ranked = coefs.withColumn("tot", F.sum("a").over(wtot)).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("key").orderBy(F.col("a").desc(), "u")
        ),
    )
    return ranked.filter((F.col("rk") == 1) & (F.col("tot") > 0)).select(
        "key",
        F.lit(n_points).cast("long").alias("n_used"),
        F.col("u").cast("long").alias("peak_u"),
        F.col("a").alias("peak_coef_abs"),
        F.expr("(a * 1000000) div tot").alias("peak_ppm"),
    )


def spectral_peak_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    n_points: int = 24,
    n_freqs: int = 8,
) -> str:
    """DuckDB twin of :func:`spectral_peak` (same embedded basis)."""
    day_us = 86_400_000_000
    kvals = ", ".join(f"({u}, {i}, {k})" for u, i, k in _dct_basis(n_points, n_freqs))
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ),
        tail AS MATERIALIZED (
          SELECT key, vq, {n_points} - rn AS i FROM (
            SELECT key, vq,
                   ROW_NUMBER() OVER (PARTITION BY key ORDER BY day DESC) AS rn
            FROM daily
          ) WHERE rn <= {n_points}
        ),
        centered AS (
          SELECT key, i,
                 vq - (CAST(SUM(vq) OVER (PARTITION BY key) AS BIGINT)
                       // {n_points}) AS cv
          FROM tail
          QUALIFY COUNT(*) OVER (PARTITION BY key) = {n_points}
        ),
        kb(u, i, k) AS (VALUES {kvals}),
        coefs AS (
          SELECT key, u,
                 abs(CAST(SUM(cv * k) AS BIGINT)) AS a
          FROM centered JOIN kb USING (i)
          GROUP BY 1, 2
        )
        SELECT key, CAST({n_points} AS BIGINT) AS n_used,
               CAST(u AS BIGINT) AS peak_u, a AS peak_coef_abs,
               (a * 1000000) // tot AS peak_ppm
        FROM (
          SELECT *, CAST(SUM(a) OVER (PARTITION BY key) AS BIGINT) AS tot,
                 ROW_NUMBER() OVER (PARTITION BY key ORDER BY a DESC, u) AS rk
          FROM coefs
        ) WHERE rk = 1 AND tot > 0
    """


def dtw_matrix(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    n_points: int = 24,
    band: int | None = None,
) -> DataFrame:
    """Dynamic-time-warping distance between every pair of per-key daily
    series — the alignment-tolerant similarity behind KPI clustering and
    "which metrics move together but shifted" diagnostics (a shifted
    copy that murders Pearson correlation scores near-zero DTW).

    Each key contributes its LAST ``n_points`` observed days
    (centi-quantized integer sums, mean-centered by trunc-div so level
    offsets don't dominate); the classic O(n^2) DP with |a_i - b_j|
    cost runs in exact BIGINT arithmetic, so the distance is
    engine-identical. Spark side: one ``applyInPandas`` per key pair
    (the DP is genuinely sequential — the documented Python-state
    escape hatch); the DuckDB twin unrolls the DP by ANTI-DIAGONAL
    wavefronts (47 materialized CTEs — dp[i][j] depends only on
    wavefronts k-1 and k-2, so each wavefront is one set-based join, no
    within-row recurrence).

    Output per unordered pair: ``(key_a, key_b, n_points, dtw_dist)``.

    ``band`` (Sakoe-Chiba) restricts the warp to ``|i - j| <= band``:
    the standard constraint that both regularizes the alignment (no
    pathological all-to-one warps) and cuts per-pair cost from
    ``n_points^2`` to ``n_points * (2*band + 1)`` — the variant to use
    when n_points grows past a few hundred.

    Scale: pairs parallelize independently; per-pair cost is n_points^2
    (banded: n_points * (2*band+1)) integer ops in an Arrow batch. The
    pair count is key-cardinality choose 2 — a METRICS-dimension
    relation, not a data relation.
    """
    import pandas as pd

    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    w_end = Window.partitionBy("key").orderBy(F.col("day").desc())
    wk = Window.partitionBy("key")
    tail = (
        daily.withColumn("rn", F.row_number().over(w_end))
        .filter(F.col("rn") <= n_points)
        .withColumn("i", F.lit(n_points) - F.col("rn"))
        .withColumn("n_used", F.count(F.lit(1)).over(wk))
        .filter(F.col("n_used") == n_points)
        .withColumn(
            "cv",
            F.col("vq")
            - F.expr(f"sum(vq) over (partition by key) div {n_points}"),
        )
        .select("key", "i", "cv")
        .localCheckpoint(eager=False)  # both pair sides read it
    )
    keys = tail.select("key").distinct()
    pairs = (
        keys.alias("a")
        .join(keys.alias("b"), F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("ka"), F.col("b.key").alias("kb"))
    )
    side_a = pairs.join(tail.withColumnRenamed("key", "ka"), "ka").select(
        "ka", "kb", F.lit(0).alias("side"), "i", "cv"
    )
    side_b = pairs.join(tail.withColumnRenamed("key", "kb"), "kb").select(
        "ka", "kb", F.lit(1).alias("side"), "i", "cv"
    )
    both = side_a.unionByName(side_b)

    def dp(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ka, kb = pdf["ka"].iloc[0], pdf["kb"].iloc[0]
        a = pdf[pdf["side"] == 0].sort_values("i")["cv"].tolist()
        b = pdf[pdf["side"] == 1].sort_values("i")["cv"].tolist()
        n, m = len(a), len(b)
        big = 1 << 62
        prev = [big] * (m + 1)
        prev[0] = 0
        for i in range(1, n + 1):
            cur = [big] * (m + 1)
            jlo = 1 if band is None else max(1, i - band)
            jhi = m if band is None else min(m, i + band)
            for j in range(jlo, jhi + 1):
                c = abs(a[i - 1] - b[j - 1])
                cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return pd.DataFrame(
            [(ka, kb, n, prev[m])],
            columns=["key_a", "key_b", "n_points", "dtw_dist"],
        )

    return both.groupBy("ka", "kb").applyInPandas(
        dp, schema="key_a string, key_b string, n_points long, dtw_dist long"
    )


def dtw_matrix_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    n_points: int = 24,
    band: int | None = None,
) -> str:
    """DuckDB twin of :func:`dtw_matrix` — the DP unrolled by
    anti-diagonal wavefronts (each MATERIALIZED; wavefront k joins only
    k-1 and k-2, so no within-row recurrence exists to break SQL). With
    ``band`` set, only Sakoe-Chiba in-band cells materialize — identical
    exclusion to the Spark DP's restricted j range."""
    day_us = 86_400_000_000
    n = n_points
    band_pred = "" if band is None else f" AND abs(a.i - b.i) <= {band}"
    parts = [f"""WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ),
        tail AS MATERIALIZED (
          SELECT key, {n} - rn AS i,
                 vq - (CAST(SUM(vq) OVER (PARTITION BY key) AS BIGINT) // {n})
                   AS cv
          FROM (
            SELECT key, day, vq,
                   ROW_NUMBER() OVER (PARTITION BY key ORDER BY day DESC) AS rn
            FROM daily
          ) WHERE rn <= {n}
          QUALIFY COUNT(*) OVER (PARTITION BY key) = {n}
        ),
        cells AS MATERIALIZED (
          SELECT a.key AS ka, b.key AS kb, a.i AS i, b.i AS j,
                 abs(a.cv - b.cv) AS c
          FROM tail a JOIN tail b ON a.key < b.key{band_pred}
        )"""]
    # wavefront k holds dp for cells with i + j = k (0-indexed)
    for k in range(0, 2 * n - 1):
        if k == 0:
            parts.append(
                "wf0 AS MATERIALIZED (SELECT ka, kb, i, j, c AS dp"
                " FROM cells WHERE i + j = 0)"
            )
            continue
        p1, p2 = f"wf{k - 1}", f"wf{k - 2}"
        diag = (
            f"LEFT JOIN {p2} d ON d.ka = x.ka AND d.kb = x.kb"
            f" AND d.i = x.i - 1 AND d.j = x.j - 1"
            if k >= 2
            else ""
        )
        d_dp = "d.dp" if k >= 2 else "NULL"
        parts.append(f"""wf{k} AS MATERIALIZED (
          SELECT x.ka, x.kb, x.i, x.j,
                 x.c + COALESCE(
                   least(
                     COALESCE(u.dp, 4611686018427387904),
                     COALESCE(l.dp, 4611686018427387904),
                     COALESCE({d_dp}, 4611686018427387904)
                   ), 0) AS dp
          FROM (SELECT * FROM cells WHERE i + j = {k}) x
          LEFT JOIN {p1} u ON u.ka = x.ka AND u.kb = x.kb
            AND u.i = x.i - 1 AND u.j = x.j
          LEFT JOIN {p1} l ON l.ka = x.ka AND l.kb = x.kb
            AND l.i = x.i AND l.j = x.j - 1
          {diag}
        )""")
    final = f"""
        SELECT ka AS key_a, kb AS key_b, CAST({n} AS BIGINT) AS n_points,
               dp AS dtw_dist
        FROM wf{2 * n - 2}"""
    return ",\n        ".join(parts) + final


def season_strength(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    step_sec: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """Seasonal-strength metric ``F_s = 1 - Var(remainder) /
    Var(detrended)`` (Hyndman's STL diagnostic) — the one-number answer
    to "does this series actually have the daily shape
    ``seasonal_decompose`` extracted, or was that noise".

    Mirrors the decompose arithmetic exactly (same 48th-unit detrend,
    same complete-window gating); the remainder at each bucket is the
    exact integer ``d * s_cnt - s_num`` over its phase's profile,
    truncated back to centi-units BEFORE squaring
    (quantize-before-accumulate), and the variance ratio leaves as ONE
    DECIMAL(38) trunc-division in ppm. F_s near 1e6 = strongly
    seasonal; near 0 = the profile explains nothing.

    Output per key: ``(key, n_buckets, strength_ppm)``.
    """
    if period % 2 != 0:
        raise ValueError("period must be even")
    half = period // 2
    step_us = int(step_sec) * 1_000_000
    hx = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("k"),
            F.expr(
                f"unix_micros(cast({ts_col} as timestamp)) div {step_us}"
            ).alias("b"),
            F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("bigint").alias("vq"),
        )
        .groupBy("k", "b")
        .agg(F.sum("vq").alias("x"))
    )
    win = Window.partitionBy("k").orderBy("b").rowsBetween(-half, half)
    wo = Window.partitionBy("k").orderBy("b")
    w = hx.select(
        "k",
        "b",
        "x",
        F.sum("x").over(win).alias("s_ma"),
        F.count(F.lit(1)).over(win).alias("c_ma"),
        F.lag("x", half).over(wo).alias("xm"),
        F.lead("x", half).over(wo).alias("xp"),
    ).filter(
        (F.col("c_ma") == period + 1)
        & F.col("xm").isNotNull()
        & F.col("xp").isNotNull()
    )
    d = w.select(
        "k",
        (F.col("b") % period).alias("phase"),
        (
            F.lit(2 * period) * F.col("x")
            - (F.lit(2) * F.col("s_ma") - F.col("xm") - F.col("xp"))
        ).alias("d"),
    ).localCheckpoint(eager=False)  # profile AND remainder both read it
    prof = d.groupBy("k", "phase").agg(
        F.count(F.lit(1)).alias("s_cnt"), F.sum("d").alias("s_num")
    )
    q = d.join(prof, ["k", "phase"]).select(
        "k",
        F.expr(f"d div {2 * period}").alias("dq"),
        F.expr(f"(d * s_cnt - s_num) div ({2 * period} * s_cnt)").alias("rq"),
    )
    s = q.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dq").alias("sd"),
        F.sum(F.col("dq") * F.col("dq")).alias("qd"),
        F.sum("rq").alias("sr"),
        F.sum(F.col("rq") * F.col("rq")).alias("qr"),
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    return (
        s.withColumn("den", F.col("n") * F.col("qd") - F.col("sd") * F.col("sd"))
        .withColumn("num", F.col("n") * F.col("qr") - F.col("sr") * F.col("sr"))
        .filter(F.col("den") > 0)
        .select(
            F.col("k").alias(key_col),
            F.col("n").cast("long").alias("n_buckets"),
            F.expr(
                f"1000000 - CAST(({dec.format('num')} * 1000000)"
                f" div {dec.format('den')} AS BIGINT)"
            ).alias("strength_ppm"),
        )
    )


def season_strength_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 24,
    step_sec: int = 3600,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`season_strength`."""
    half = period // 2
    step_us = int(step_sec) * 1_000_000
    return f"""
        WITH hx AS MATERIALIZED (
          SELECT {key_col} AS k, epoch_us({ts_col}) // {step_us} AS b,
                 CAST(SUM(CAST(floor({value_col} * {scale} + 0.5) AS BIGINT))
                      AS BIGINT) AS x
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ), w AS MATERIALIZED (
          SELECT k, b, x,
                 SUM(x) OVER win AS s_ma,
                 COUNT(*) OVER win AS c_ma,
                 LAG(x, {half}) OVER (PARTITION BY k ORDER BY b) AS xm,
                 LEAD(x, {half}) OVER (PARTITION BY k ORDER BY b) AS xp
          FROM hx
          WINDOW win AS (PARTITION BY k ORDER BY b
                         ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
        ), d AS MATERIALIZED (
          SELECT k, b % {period} AS phase,
                 {2 * period} * x - (2 * s_ma - xm - xp) AS d
          FROM w
          WHERE c_ma = {period + 1} AND xm IS NOT NULL AND xp IS NOT NULL
        ), prof AS (
          SELECT k, phase, CAST(COUNT(*) AS BIGINT) AS s_cnt,
                 CAST(SUM(d) AS BIGINT) AS s_num
          FROM d GROUP BY 1, 2
        ), q AS (
          SELECT d.k, d.d // {2 * period} AS dq,
                 (d.d * s_cnt - s_num) // ({2 * period} * s_cnt) AS rq
          FROM d JOIN prof USING (k, phase)
        ), s AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dq) AS BIGINT) AS sd,
                 CAST(SUM(dq*dq) AS BIGINT) AS qd,
                 CAST(SUM(rq) AS BIGINT) AS sr,
                 CAST(SUM(rq*rq) AS BIGINT) AS qr
          FROM q GROUP BY 1
        )
        SELECT k AS {key_col}, n AS n_buckets,
               1000000 - CAST((CAST(n*qr - sr*sr AS HUGEINT) * 1000000)
                 // CAST(n*qd - sd*sd AS HUGEINT) AS BIGINT) AS strength_ppm
        FROM s WHERE n*qd - sd*sd > 0
    """


def max_drawdown(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Maximum drawdown of the per-key cumulative series — the classic
    peak-to-trough risk metric (finance P&L, but equally an ops burn
    counter: the deepest dip of cumulative net events below their
    high-water mark). Two stacked windows, all exact BIGINTs: running
    cumulative sum of the centi-quantized daily deltas, its running max
    (the high-water mark), and the max gap; the trough day is the
    argmax by (gap DESC, day) — a total order.

    Output per key: ``(key, n_days, final_centi, peak_centi,
    max_drawdown_centi, trough_day)``.

    Scale: one day-bucket agg + one ordered window pass per key + one
    argmax — the CUSUM/bollinger posture.
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias(
                "day"
            ),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias("vq"),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    w = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.withColumn("cum", F.sum("vq").over(w)).withColumn(
        "hwm", F.max("cum").over(w)
    )
    scored = cum.withColumn("dd", F.col("hwm") - F.col("cum"))
    # argmax by (dd DESC, day ASC) via the zero-padded string key device
    # (DuckDB arg_max takes no struct ordering; lexicographic == numeric)
    key_expr = "lpad(CAST(dd AS STRING), 20, '0') || lpad(CAST(1000000000000 - day AS STRING), 13, '0')"
    return scored.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("max_by(cum, day)").cast("long").alias("final_centi"),
        F.max("cum").cast("long").alias("peak_centi"),
        F.max("dd").cast("long").alias("max_drawdown_centi"),
        F.expr(f"max_by(day, {key_expr})").cast("long").alias("trough_day"),
    )


def max_drawdown_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`max_drawdown`."""
    day_us = 86_400_000_000
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ),
        cum0 AS (
          SELECT key, day, CAST(SUM(vq) OVER w AS BIGINT) AS cum
          FROM daily
          WINDOW w AS (PARTITION BY key ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        cum AS (
          SELECT key, day, cum,
                 CAST(MAX(cum) OVER (PARTITION BY key ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS hwm
          FROM cum0
        ),
        scored AS (SELECT *, hwm - cum AS dd FROM cum)
        SELECT key, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(max_by(cum, day) AS BIGINT) AS final_centi,
               CAST(MAX(cum) AS BIGINT) AS peak_centi,
               CAST(MAX(dd) AS BIGINT) AS max_drawdown_centi,
               CAST(max_by(day, lpad(CAST(dd AS VARCHAR), 20, '0')
                 || lpad(CAST(1000000000000 - day AS VARCHAR), 13, '0'))
                 AS BIGINT) AS trough_day
        FROM scored GROUP BY 1
    """


def rolling_slope(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window_rows: int = 7,
) -> DataFrame:
    """Trailing-window OLS trend per key — the "is this metric rising"
    detector: over each key's daily series, the least-squares slope of
    the LAST ``window_rows`` days ending at each day (x = day number, an
    exact integer grid robust to gaps).

    Exact sufficient statistics per frame (``k*Σxy − Σx·Σy`` over
    ``k*Σxx − (Σx)²``) accumulate as BIGINT window sums; the slope
    leaves as one exact milli division per row, in sign-and-magnitude
    form (``sign(num) * (abs(num)*1000 div den)`` — Spark ``div``
    truncates toward zero but DuckDB ``//`` floors, so a bare negative
    trunc-div is NOT portable; the denominator is k²·Var(x) > 0). Only
    full windows emit (the first k−1 days per key are warmup).

    Output: ``(key, day, vq, slope_milli)`` — vq the day's centi-sum.

    Scale: per-key daily aggregation + ONE key-partitioned window stage
    carrying four running sums (a single exchange on the key; frames are
    k-bounded so state is O(k) per task).
    """
    day_us = 86_400_000_000
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("day"),
            F.expr(f"CAST(floor({value_col} * 100 + 0.5) AS BIGINT)").alias(
                "vq"
            ),
        )
        .groupBy("key", "day")
        .agg(F.sum("vq").alias("vq"))
    )
    return rolling_slope_from_daily(daily, window_rows)


def rolling_slope_from_daily(daily: DataFrame, window_rows: int) -> DataFrame:
    """The read-time algebra of :func:`rolling_slope` over a prepared
    per-(key, day) centi-sum relation — shared by the batch op and the
    live monitor (whose state is the day-sum monoid)."""
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-(window_rows - 1), 0)
    )
    k = window_rows
    framed = daily.select(
        "key",
        "day",
        "vq",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("day").over(w).alias("sx"),
        F.sum("vq").over(w).alias("sy"),
        F.sum(F.col("day") * F.col("vq")).over(w).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).over(w).alias("sxx"),
    )
    return (
        framed.filter(F.col("n") == k)
        .filter(F.expr(f"{k} * sxx - sx * sx != 0"))
        .select(
            "key",
            F.col("day").cast("long").alias("day"),
            F.col("vq").cast("long").alias("vq"),
            F.expr(
                f"CAST(sign({k} * sxy - sx * sy) AS BIGINT)"
                f" * ((abs({k} * sxy - sx * sy) * 1000)"
                f" div ({k} * sxx - sx * sx))"
            ).alias("slope_milli"),
        )
    )


def rolling_slope_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window_rows: int = 7,
) -> str:
    """DuckDB twin of :func:`rolling_slope`."""
    day_us = 86_400_000_000
    k = window_rows
    return f"""
        WITH daily AS (
          SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                 CAST(SUM(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
        ),
        framed AS (
          SELECT key, day, vq,
                 CAST(COUNT(*) OVER w AS BIGINT) AS n,
                 CAST(SUM(day) OVER w AS BIGINT) AS sx,
                 CAST(SUM(vq) OVER w AS BIGINT) AS sy,
                 CAST(SUM(day * vq) OVER w AS BIGINT) AS sxy,
                 CAST(SUM(day * day) OVER w AS BIGINT) AS sxx
          FROM daily
          WINDOW w AS (PARTITION BY key ORDER BY day
                       ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT key, day, vq,
               CAST(sign({k} * sxy - sx * sy) AS BIGINT)
                 * ((abs({k} * sxy - sx * sy) * 1000)
                    // ({k} * sxx - sx * sx)) AS slope_milli
        FROM framed
        WHERE n = {k} AND {k} * sxx - sx * sx <> 0
    """


def ccf(
    df: DataFrame,
    ts_col: str,
    a_pred: str,
    b_pred: str,
    max_lag: int = 6,
    step_sec: int = 3600,
) -> DataFrame:
    """Lagged CROSS-correlation between two event series — "does series A
    lead series B?" (the lead-lag diagnostic behind alerting rules and
    Granger pre-screens; :func:`acf`'s two-series sibling). Series are
    ``step_sec``-bucketed event COUNTS of the two predicates; correlation
    at lag L pairs ``a(t)`` with ``b(t+L)`` for L in ``-max_lag..max_lag``
    (positive L = A leads B).

    Portability (the ACF device): bucket counts are exact BIGINTs;
    centering subtracts the floor mean (non-negative operands — ``div``
    == ``//``); numerator and the two denominators are exact BIGINT sums
    of integer products; the output boundary is
    ``num / sqrt(den_a * den_b)`` — one product, one sqrt (IEEE
    exact-rounded, the repo's one portable non-integer power), one
    division, identically shaped in both engines. Pairs come from
    EXISTING buckets on both sides.

    Output: ``(lag, n_pairs, num, den_a, den_b, ccf)``. Predicates are
    expected DISJOINT (a row matching both counts toward series A only).

    Scale: one hash aggregation to tagged bucket counts + a lag-explode
    equi-join (never a band join) + key-sized rollups.
    """
    step_us = int(step_sec) * 1_000_000
    b_expr = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {step_us}")
    counts = (
        df.select(
            b_expr.alias("b"),
            F.when(F.expr(a_pred), F.lit("a"))
            .when(F.expr(b_pred), F.lit("b"))
            .alias("series"),
        )
        .filter(F.col("series").isNotNull())
        .groupBy("series", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    return ccf_from_counts(counts, max_lag=max_lag)


def ccf_from_counts(counts: DataFrame, max_lag: int = 6) -> DataFrame:
    """The read-time algebra of :func:`ccf` over a ``(series 'a'|'b', b,
    x)`` bucket-count relation — split out so the live monitor
    (``streaming/timeseries_stream.py::run_streaming_ccf``) can keep the
    two count monoids as its only streaming state."""

    def centered(tag: str) -> DataFrame:
        h = counts.filter(F.col("series") == tag).select("b", "x")
        st = h.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
        return h.crossJoin(F.broadcast(st)).select(
            "b", F.expr("x - (s div n)").alias("y")
        )

    ya = centered("a").localCheckpoint()  # pair join + denominator
    yb = centered("b").localCheckpoint()
    da = ya.agg(F.sum(F.col("y") * F.col("y")).alias("den_a"))
    db = yb.agg(F.sum(F.col("y") * F.col("y")).alias("den_b"))
    lags = F.explode(
        F.array(*[F.lit(i) for i in range(-max_lag, max_lag + 1)])
    ).alias("lag")
    num = (
        ya.select(F.col("b"), F.col("y").alias("yx"))
        .select("b", "yx", lags)
        .select((F.col("b") + F.col("lag")).alias("b"), "lag", "yx")
        .join(yb.select("b", F.col("y").alias("yy")), "b")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("yx") * F.col("yy")).cast("long").alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(da))
        .crossJoin(F.broadcast(db))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            "num",
            F.col("den_a").cast("long").alias("den_a"),
            F.col("den_b").cast("long").alias("den_b"),
            (
                F.col("num").cast("double")
                / F.sqrt(F.col("den_a").cast("double") * F.col("den_b").cast("double"))
            ).alias("ccf"),
        )
    )


def ccf_oracle(
    table: str,
    ts_col: str,
    a_pred: str,
    b_pred: str,
    max_lag: int = 6,
    step_sec: int = 3600,
) -> str:
    """DuckDB twin of :func:`ccf`."""
    step_us = int(step_sec) * 1_000_000

    def centered(pred: str, name: str) -> str:
        return f"""{name}_h AS MATERIALIZED (
          SELECT epoch_us({ts_col}) // {step_us} AS b,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM {table} WHERE {pred} GROUP BY 1
        ), {name} AS MATERIALIZED (
          SELECT b, x - (SELECT CAST(SUM(x) AS BIGINT)
                                // CAST(COUNT(*) AS BIGINT) FROM {name}_h) AS y
          FROM {name}_h
        )"""

    lag_list = ", ".join(f"({i})" for i in range(-max_lag, max_lag + 1))
    return f"""
        WITH {centered(a_pred, "ya")}, {centered(b_pred, "yb")},
        da AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den_a FROM ya),
        db AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den_b FROM yb),
        num AS (
          SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(ya.y * yb.y) AS BIGINT) AS num
          FROM ya CROSS JOIN (VALUES {lag_list}) l(lag)
          JOIN yb ON yb.b = ya.b + l.lag
          GROUP BY l.lag
        )
        SELECT CAST(lag AS BIGINT) AS lag, n_pairs, num, den_a, den_b,
               CAST(num AS DOUBLE)
                 / sqrt(CAST(den_a AS DOUBLE) * CAST(den_b AS DOUBLE)) AS ccf
        FROM num, da, db
    """


def cox_fit(
    units: DataFrame,
    dur_col: str,
    event_col: str,
    x_col: str,
    n_steps: int = 12,
    scale_den: int = 4,
) -> DataFrame:
    """Cox proportional-hazards regression with ONE binary covariate —
    "does exposure raise the churn hazard, controlling for time at
    risk?" (the survival-analysis sibling of :func:`logistic fit
    <flink_example_spark.operators.ml.logistic_fit>`; the log-rank row
    tests the same question, this ESTIMATES the effect size as a hazard
    ratio ``exp(beta)``).

    Breslow partial likelihood, binary ``x``: the score collapses onto
    per-distinct-time counts — ``g(beta) = sum_t [d1(t) - (d1+d0)(t) *
    n1(t)*E / (n0(t)*1e6 + n1(t)*E)]`` with ``E = exp_micro(beta)`` from
    the embedded exp table — so the at-risk structure ``(t, d0, d1, n0,
    n1)`` is computed ONCE (beta-independent) and every descent step
    aggregates only the bounded distinct-time relation. All integers:
    the ratio is one non-negative BIGINT division, the update is the
    sign-safe division form.

    Overflow bound (documented like ``gini_lorenz``): the ratio
    numerator ``n1 * E * 1e6`` with the exp table clamped at
    ``E <= e^4 * 1e6 ~= 5.46e7`` stays inside BIGINT while the at-risk
    treated count ``n1 <= ~1.68e5``. Above that (100-TB user
    cardinality), pre-aggregate subjects into strata or rescale ``n0``
    and ``n1`` by a common factor before calling — the score ratio only
    ever reads ``n1/(n0 + n1·e^beta)``, which is invariant to common
    rescaling of the two counts.

    ``units``: one row per subject with integer ``dur_col`` (time at
    risk), ``event_col`` in {0,1} (1 = event, 0 = censored) and binary
    ``x_col``. Output (tall, scalar): ``('beta', beta_micro)`` +
    ``('hazard_ratio_micro', exp-table value at beta)`` + audit rows
    ``__n_units``, ``__n_events``, ``__n_treated``.

    Scale: one pass to per-time group counts; the at-risk closure is a
    distributed running sum over the distinct-time relation (the
    two-phase dist_cumsum device — no unpartitioned window anywhere);
    the step loop never touches row data again.
    """
    u = units.select(
        F.col(dur_col).cast("long").alias("t"),
        F.col(event_col).cast("long").alias("d"),
        F.col(x_col).cast("long").alias("x"),
    ).localCheckpoint()
    tot = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("ev"),
        F.sum("x").alias("tr"),
    ).first()
    n_ev = int(tot["ev"] or 0)
    # Size-gated crossover (r15): the at-risk relation is one row per
    # distinct time with >=1 event — bounded by DURATION GRANULARITY,
    # which is data-dependent, not by construction. Within
    # SPARK_GRAFT_COX_LOCAL_MAX rows it is collected once and the
    # n_steps score sums run in exact Python BIGINT arithmetic (the r14
    # driver port); above the bound each step runs as ONE in-engine
    # aggregation over the checkpointed relation — the identical
    # integer expression, bit-equal (_cox_scores; forced-path pinned by
    # tests/test_timeseries.py::test_cox_forced_distributed_matches).
    # cox_fit's stratum-0 weight is the hard-coded 1e6 (not the
    # table-bucketed exp_micro(0)), expressed via ev_s = [1e6, E].
    src = _cox_src(
        _cox_risk(u).select(
            "t",
            F.col("d0").alias("de0"),
            F.col("d1").alias("de1"),
            "n0",
            "n1",
        ),
        2,
    )
    beta = 0
    for _ in range(n_steps):
        # beta is parameter-sized and driver-known each step — same
        # clamp-shift table lookup (_exp_val) as the plan literal had
        ev = _exp_val(beta)
        g = _cox_scores(src, 2, [1_000_000, ev], [[0, 1]])[0]
        beta = beta + (1 if g >= 0 else -1) * (abs(g) // (scale_den * max(n_ev, 1)))
    rows = [
        ("beta", int(beta)),
        ("hazard_ratio_micro", int(_exp_val(beta))),
        ("__n_units", int(tot["n"])),
        ("__n_events", n_ev),
        ("__n_treated", int(tot["tr"] or 0)),
    ]
    return local_df(units.sparkSession, rows, "feature string, w_micro long")


def _cox_risk(u: DataFrame) -> DataFrame:
    """Breslow at-risk structure ``(t, d1, d0, n1, n0)`` over a ``(t, d,
    x)`` unit relation: one row per distinct time with BOTH groups'
    unit/event counts as columns, so the at-risk closure is a single
    distributed running sum (dist_cumsum, the two-phase device — never
    an unpartitioned window): ``n_x(t) = total_x - #{x-units, dur < t}``
    (exclusive prefix — at-risk includes dur >= t)."""
    from flink_example_spark.operators.distrank import dist_cumsum

    cnt = u.groupBy("t").agg(
        F.sum(F.when(F.col("x") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("x") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("x") == 0, F.col("d")).otherwise(0)).alias("d0"),
    )
    cum = dist_cumsum(cnt, ["t"], {"cum1": "c1", "cum0": "c0"})
    tots = u.agg(
        F.sum("x").alias("tot1"),
        F.sum(F.lit(1) - F.col("x")).alias("tot0"),
    )
    return (
        cum.crossJoin(F.broadcast(tots))
        .filter((F.col("d1") + F.col("d0")) > 0)
        .select(
            "t",
            "d1",
            "d0",
            (F.col("tot1") - (F.col("cum1") - F.col("c1"))).alias("n1"),
            (F.col("tot0") - (F.col("cum0") - F.col("c0"))).alias("n0"),
        )
    )


def _exp_val(beta_micro: int) -> int:
    """Driver-side exp-table lookup for a WEIGHT (parameter-sized, known
    on the driver each step) — the same clamp-shift bucket arithmetic as
    the in-plan `_exp_bucket_sql`, evaluated in Python so the step's
    DuckDB twin (which inlines the identical integer expression over its
    weight CTE) lands on the same table cell."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    zc = max(min(int(beta_micro), _EXP_CLAMP_HI - 1), _EXP_CLAMP_LO)
    return _EXP_TABLE[(zc - _EXP_CLAMP_LO) // _SIG_STEP]


def cox_fit_oracle(
    units_sql: str,
    dur_sql: str,
    event_sql: str,
    x_sql: str,
    n_steps: int = 12,
    scale_den: int = 4,
) -> str:
    """DuckDB twin of :func:`cox_fit` (unrolled MATERIALIZED CTE steps;
    the exp lookup indexes the same embedded table with the same
    clamp-shift arithmetic over the weight CTE)."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"

    def exp_of(bexpr: str) -> str:
        zc = f"greatest(least({bexpr}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
        return f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"

    parts = [
        f"""u AS MATERIALIZED (
          SELECT CAST(({dur_sql}) AS BIGINT) AS t,
                 CAST(({event_sql}) AS BIGINT) AS d,
                 CAST(({x_sql}) AS BIGINT) AS x
          FROM ({units_sql})),
        per AS MATERIALIZED (
          SELECT t, x, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(d) AS BIGINT) AS de
          FROM u GROUP BY 1, 2),
        ar AS MATERIALIZED (
          SELECT t, x, de,
                 CAST(SUM(c) OVER (PARTITION BY x ORDER BY t DESC) AS BIGINT)
                   AS at_risk
          FROM per),
        risk AS MATERIALIZED (
          SELECT t, d1, d0, COALESCE(n1, 0) AS n1, COALESCE(n0, 0) AS n0
          FROM (
            SELECT t,
                   CAST(SUM(CASE WHEN x = 1 THEN de ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN x = 0 THEN de ELSE 0 END) AS BIGINT) AS d0,
                   MAX(CAST(SUM(CASE WHEN x = 1 THEN at_risk ELSE 0 END) AS BIGINT))
                     OVER (ORDER BY t DESC) AS n1,
                   MAX(CAST(SUM(CASE WHEN x = 0 THEN at_risk ELSE 0 END) AS BIGINT))
                     OVER (ORDER BY t DESC) AS n0
            FROM ar GROUP BY t
          ) WHERE d1 + d0 > 0),
        meta AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS ev,
                 CAST(SUM(x) AS BIGINT) AS tr
          FROM u),
        b0 AS (SELECT CAST(0 AS BIGINT) AS beta)"""
    ]
    for s in range(n_steps):
        e = exp_of(f"b{s}.beta")
        parts.append(
            f"""g{s} AS MATERIALIZED (
              SELECT COALESCE(CAST(SUM(d1 * 1000000 - (d1 + d0) *
                ((n1 * {e} * 1000000) // (n0 * 1000000 + n1 * {e})))
                AS BIGINT), 0) AS g
              FROM risk, b{s}),
            b{s + 1} AS MATERIALIZED (
              SELECT b{s}.beta + (CASE WHEN g{s}.g >= 0 THEN 1 ELSE -1 END)
                     * (abs(g{s}.g) // ({scale_den} * greatest(meta.ev, 1)))
                AS beta
              FROM b{s}, g{s}, meta)"""
        )
    return f"""
        WITH {", ".join(parts)}
        SELECT 'beta' AS feature, beta AS w_micro FROM b{n_steps}
        UNION ALL SELECT 'hazard_ratio_micro', {exp_of(f"b{n_steps}.beta")}
          FROM b{n_steps}
        UNION ALL SELECT '__n_units', n FROM meta
        UNION ALL SELECT '__n_events', ev FROM meta
        UNION ALL SELECT '__n_treated', tr FROM meta
    """


def cox_fit_multi(
    units: DataFrame,
    dur_col: str,
    event_col: str,
    x_cols: list[str],
    n_steps: int = 12,
    scale_den: int = 4,
) -> DataFrame:
    """Cox proportional hazards with SEVERAL binary covariates — the
    multivariate generalization of :func:`cox_fit` ("does exposure raise
    the churn hazard CONTROLLING for the other exposures?"). The
    single-covariate Breslow collapse generalizes by STRATUM: with p
    binary covariates there are 2^p strata ``s`` (bit pattern of the
    covariate vector), and the partial-likelihood score for coefficient
    j needs only per-(time, stratum) counts::

        g_j(beta) = sum_t [ dx_j(t) - D(t) *
                            (sum_{s: bit_j(s)} n_s(t) E_s)
                          / (sum_s          n_s(t) E_s) ]

    with ``E_s = exp_micro(sum_{j in s} beta_j)`` from the embedded exp
    table, ``dx_j`` = events in bit-j strata, ``D`` = all events. Beta
    is parameter-sized and driver-known each step, so every ``E_s`` is a
    Python-computed literal (the ``_exp_val`` device) and one bounded
    aggregation per step yields ALL p gradients.

    Determinism: the at-risk closure is one :func:`dist_cumsum` pass
    over the distinct-time relation with the 2^p strata PIVOTED to
    columns (never a per-stratum partitioned window over times); the
    score ratio is one non-negative BIGINT division per (time, coeff);
    the update is the sign-safe division form. Overflow bound: the
    score numerator/denominator SUM ``n_s * E_s * 1e6`` ACROSS the
    ``2^p`` strata, so the BIGINT-safe limit is on the SUMMED at-risk
    count across strata (total at-risk <= ~1.68e5 — i.e. ~1.68e5 / 2^p
    per stratum in the worst single-stratum case; the banded forms
    tighten it by their extra band factor — divide by ``n_bands - 1``).
    Overflow raises loudly in both engines (ANSI / DuckDB) rather than
    corrupting results; rescale counts by a common factor BEFORE the
    limit — the score ratio is invariant.

    Note vs :func:`cox_fit` at p=1: the stratum-0 weight here is the
    TABLE-BUCKETED ``exp_micro(0)`` (the bucket value, not exactly 1e6),
    where cox_fit hard-codes ``n0 * 1e6``; a common factor cancels in
    the score ratio only while all betas share a bucket, so per-step
    beta trajectories may differ from cox_fit by exp-table quantization
    (hazard-ratio CELLS typically coincide). Both engines evaluate the
    identical table arithmetic, so determinism is unaffected.

    ``x_cols``: 1-4 binary columns (2^p <= 16 pivoted columns). Output
    (tall, scalar): per covariate ``('beta_<name>', beta_micro)`` and
    ``('hazard_ratio_micro_<name>', exp-table value)``, plus audit rows
    ``__n_units``, ``__n_events`` and per-covariate
    ``__n_treated_<name>``.

    Scale: one pass to per-(time, stratum) counts (map-side combined),
    one dist_cumsum over distinct times, then ``n_steps`` aggregations
    of the bounded event-time relation. Rows never shuffle on data keys.
    """
    p = len(x_cols)
    if not 1 <= p <= 4:
        raise ValueError("cox_fit_multi takes 1-4 binary covariates")
    ns = 1 << p
    s_expr = None
    for j, c in enumerate(x_cols):
        term = F.col(c).cast("long") * F.lit(1 << j)
        s_expr = term if s_expr is None else s_expr + term
    u = units.select(
        F.col(dur_col).cast("long").alias("t"),
        F.col(event_col).cast("long").alias("d"),
        s_expr.alias("s"),
    ).localCheckpoint()
    meta = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("ev"),
        *[
            F.sum(((F.col("s").bitwiseAND(1 << j)) > 0).cast("long")).alias(
                f"tr{j}"
            )
            for j in range(p)
        ],
    ).first()
    n_ev = int(meta["ev"] or 0)
    # Size-gated score source (r15 crossover — see _cox_src): Python
    # BIGINT sums below the bound, one in-engine aggregation per step
    # above it; bit-equal either way
    src = _cox_src(_cox_multi_risk(u, ns), ns)
    bitvals = [
        [1 if sv & (1 << j) else 0 for sv in range(ns)] for j in range(p)
    ]
    betas = [0] * p
    for _ in range(n_steps):
        ev_s = [
            _exp_val(sum(betas[j] for j in range(p) if sv & (1 << j)))
            for sv in range(ns)
        ]
        gs = _cox_scores(src, ns, ev_s, bitvals)
        for j in range(p):
            gj = gs[j]
            betas[j] = betas[j] + (1 if gj >= 0 else -1) * (
                abs(gj) // (scale_den * max(n_ev, 1))
            )
    rows: list[tuple[str, int]] = []
    for j, name in enumerate(x_cols):
        rows.append((f"beta_{name}", int(betas[j])))
        rows.append((f"hazard_ratio_micro_{name}", int(_exp_val(betas[j]))))
    rows.append(("__n_units", int(meta["n"])))
    rows.append(("__n_events", n_ev))
    for j, name in enumerate(x_cols):
        rows.append((f"__n_treated_{name}", int(meta[f"tr{j}"] or 0)))
    return local_df(units.sparkSession, rows, "feature string, w_micro long")


def _cox_src(risk: DataFrame, ns: int) -> "list | DataFrame":
    """Size-gated score source for the cox descent loops (r15 crossover).

    The at-risk relation (one row per distinct time with >=1 event,
    2*ns BIGINT count columns) is bounded by DURATION GRANULARITY — a
    property of the caller's data, not of the operator. Checkpoint it
    once; within ``SPARK_GRAFT_COX_LOCAL_MAX`` rows collect it and let
    the n_steps score passes run as exact Python BIGINT sums (the r14
    driver port — round-12 device: order-independent integer sums +
    trunc divisions of non-negative operands are BIT-equal on the
    driver). Above the bound the relation stays distributed and each
    step evaluates as ONE in-engine aggregation (:func:`_cox_scores`)
    over the checkpointed blocks — nothing data-sized ever reaches the
    driver at 100 TB. Both paths pinned bit-equal by
    tests/test_timeseries.py::test_cox_forced_distributed_matches."""
    import os

    risk = risk.localCheckpoint()
    bound = int(os.environ.get("SPARK_GRAFT_COX_LOCAL_MAX", "1000000"))
    if risk.count() <= bound:
        return [
            (
                tuple(int(r[f"de{sv}"]) for sv in range(ns)),
                tuple(int(r[f"n{sv}"]) for sv in range(ns)),
            )
            for r in risk.collect()
        ]
    return risk


def _cox_scores(src, ns: int, ev_s: list, vals_list: list) -> list:
    """All coefficients' Breslow score sums for one descent step — the
    same exact integer expression on either side of the crossover:
    per event time ``dx*1e6 - D * ((num*1e6) div den)`` with num/den
    non-negative (Python ``//`` == SQL ``div``), summed order-free.
    In-engine the quotient is split as ``(num div den)*1e6 +
    ((num % den)*1e6) div den`` — equal for non-negative operands, and
    it needs only ``den*1e6`` to fit in BIGINT, not ``num*1e6`` (num is
    den weighted by the covariate values, so it outgrows den first)."""
    if isinstance(src, list):
        return [_cox_score(src, ns, ev_s, vals) for vals in vals_list]
    den = " + ".join(f"n{sv} * {int(ev_s[sv])}" for sv in range(ns))
    dd = " + ".join(f"de{sv}" for sv in range(ns))
    exprs = []
    for i, vals in enumerate(vals_list):
        num = " + ".join(
            f"n{sv} * {int(vals[sv]) * int(ev_s[sv])}"
            for sv in range(ns)
            if vals[sv]
        )
        dx = " + ".join(f"de{sv} * {int(vals[sv])}" for sv in range(ns) if vals[sv])
        body = (
            f"({dx}) * 1000000 - ({dd}) * ((({num}) div ({den})) * 1000000"
            f" + ((({num}) % ({den})) * 1000000) div ({den}))"
            if num
            else "0"
        )
        exprs.append(f"COALESCE(CAST(SUM({body}) AS BIGINT), 0) AS g{i}")
    row = src.selectExpr(*exprs).first()
    return [int(row[f"g{i}"]) for i in range(len(vals_list))]


def _cox_score(rows: list, ns: int, ev_s: list, vals: list) -> int:
    """Driver evaluation of one coefficient's Breslow score sum — the
    exact integer arithmetic of the in-engine form: per event time,
    ``dx*1e6 - D * ((num*1e6) div den)`` with num/den non-negative (so
    Python ``//`` == SQL ``div``)."""
    g = 0
    for de, nn in rows:
        den = sum(nn[sv] * ev_s[sv] for sv in range(ns))
        dd = sum(de)
        num = sum(nn[sv] * vals[sv] * ev_s[sv] for sv in range(ns))
        dx = sum(de[sv] * vals[sv] for sv in range(ns))
        g += dx * 1_000_000 - dd * ((num * 1_000_000) // den)
    return g


def _cox_multi_risk(u: DataFrame, ns: int) -> DataFrame:
    """Stratified Breslow at-risk structure over a ``(t, d, s)`` unit
    relation (``s`` = covariate bit pattern < ``ns``): one row per
    distinct EVENT time with all 2^p strata's event counts ``de*`` and
    at-risk counts ``n*`` as columns, so every closure is one
    dist_cumsum pass (the two-phase device — never an unpartitioned or
    per-stratum window over the time relation)."""
    from flink_example_spark.operators.distrank import dist_cumsum

    cnt = u.groupBy("t").agg(
        *[
            F.sum(F.when(F.col("s") == sv, 1).otherwise(0)).alias(f"c{sv}")
            for sv in range(ns)
        ],
        *[
            F.sum(F.when(F.col("s") == sv, F.col("d")).otherwise(0)).alias(
                f"de{sv}"
            )
            for sv in range(ns)
        ],
    )
    cum = dist_cumsum(cnt, ["t"], {f"cum{sv}": f"c{sv}" for sv in range(ns)})
    tots = u.agg(
        *[
            F.sum(F.when(F.col("s") == sv, 1).otherwise(0)).alias(f"tot{sv}")
            for sv in range(ns)
        ]
    )
    d_all = sum((F.col(f"de{sv}") for sv in range(ns)), F.lit(0))
    return (
        cum.crossJoin(F.broadcast(tots))
        .filter(d_all > 0)
        .select(
            "t",
            *[F.col(f"de{sv}") for sv in range(ns)],
            *[
                (
                    F.col(f"tot{sv}") - (F.col(f"cum{sv}") - F.col(f"c{sv}"))
                ).alias(f"n{sv}")
                for sv in range(ns)
            ],
        )
    )


def cox_fit_multi_oracle(
    units_sql: str,
    dur_sql: str,
    event_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 12,
    scale_den: int = 4,
) -> str:
    """DuckDB twin of :func:`cox_fit_multi` (unrolled MATERIALIZED CTE
    steps; per-stratum exp lookups index the same embedded table with
    the same clamp-shift arithmetic over the beta CTE). ``x_sqls``:
    ``(name, binary SQL expression)`` pairs, order matching the Spark
    call's ``x_cols``."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    p = len(x_sqls)
    if not 1 <= p <= 4:
        raise ValueError("cox_fit_multi_oracle takes 1-4 binary covariates")
    ns = 1 << p
    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"

    def exp_of(bexpr: str) -> str:
        zc = f"greatest(least({bexpr}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
        return f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"

    s_sql = " + ".join(
        f"CAST(({x}) AS BIGINT) * {1 << j}" for j, (_, x) in enumerate(x_sqls)
    )
    c_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {sv} THEN 1 ELSE 0 END) AS BIGINT) AS c{sv}"
        for sv in range(ns)
    )
    de_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {sv} THEN d ELSE 0 END) AS BIGINT) AS de{sv}"
        for sv in range(ns)
    )
    n_cols = ", ".join(
        f"CAST(SUM(c{sv}) OVER (ORDER BY t DESC) AS BIGINT) AS n{sv}"
        for sv in range(ns)
    )
    de_all = " + ".join(f"de{sv}" for sv in range(ns))
    tr_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s & {1 << j} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tr{j}"
        for j in range(p)
    )
    parts = [
        f"""u AS MATERIALIZED (
          SELECT CAST(({dur_sql}) AS BIGINT) AS t,
                 CAST(({event_sql}) AS BIGINT) AS d,
                 {s_sql} AS s
          FROM ({units_sql})),
        per AS MATERIALIZED (
          SELECT t, {c_cols}, {de_cols} FROM u GROUP BY t),
        riskall AS MATERIALIZED (
          SELECT t, {", ".join(f"de{sv}" for sv in range(ns))}, {n_cols}
          FROM per),
        risk AS MATERIALIZED (
          SELECT * FROM riskall WHERE {de_all} > 0),
        meta AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS ev,
                 {tr_cols}
          FROM u),
        b0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS beta{j}" for j in range(p))})"""
    ]
    for st in range(n_steps):
        e_s = [
            exp_of(
                " + ".join(
                    [f"b{st}.beta{j}" for j in range(p) if sv & (1 << j)]
                    or ["0"]
                )
            )
            for sv in range(ns)
        ]
        den = " + ".join(f"n{sv} * ({e_s[sv]})" for sv in range(ns))
        g_cols = []
        for j in range(p):
            bit = [sv for sv in range(ns) if sv & (1 << j)]
            num = " + ".join(f"n{sv} * ({e_s[sv]})" for sv in bit)
            dx = " + ".join(f"de{sv}" for sv in bit)
            g_cols.append(
                f"COALESCE(CAST(SUM(({dx}) * 1000000 - ({de_all}) *"
                f" ((({num}) * 1000000) // ({den}))) AS BIGINT), 0) AS g{j}"
            )
        upd = ", ".join(
            f"b{st}.beta{j} + (CASE WHEN g{st}.g{j} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(g{st}.g{j}) // ({scale_den} * greatest(meta.ev, 1)))"
            f" AS beta{j}"
            for j in range(p)
        )
        parts.append(
            f"""g{st} AS MATERIALIZED (
              SELECT {", ".join(g_cols)} FROM risk, b{st}),
            b{st + 1} AS MATERIALIZED (
              SELECT {upd} FROM b{st}, g{st}, meta)"""
        )
    selects = []
    for j, (name, _) in enumerate(x_sqls):
        selects.append(
            f"SELECT 'beta_{name}' AS feature, beta{j} AS w_micro"
            f" FROM b{n_steps}"
        )
        selects.append(
            f"SELECT 'hazard_ratio_micro_{name}',"
            f" {exp_of(f'b{n_steps}.beta{j}')} FROM b{n_steps}"
        )
    selects.append("SELECT '__n_units', n FROM meta")
    selects.append("SELECT '__n_events', ev FROM meta")
    for j, (name, _) in enumerate(x_sqls):
        selects.append(f"SELECT '__n_treated_{name}', tr{j} FROM meta")
    return (
        "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)
    )


def cox_fit_banded(
    units: DataFrame,
    dur_col: str,
    event_col: str,
    x_col: str,
    lo: int,
    width: int,
    n_bands: int = 8,
    n_steps: int = 12,
    scale_den: int | None = None,
) -> DataFrame:
    """Cox proportional hazards with one CONTINUOUS covariate, banded —
    the dose-response completion of the survival family ("does MORE
    exposure raise the churn hazard monotonically?"): the covariate is
    quantized into ``n_bands`` fixed-width bands (portable integer
    bucketing from caller-provided ``lo``/``width``; values clamp into
    the edge bands) and the band INDEX b in [0, n_bands) is the
    regressor, so ``exp(beta)`` is the hazard ratio per band step.

    The stratified Breslow collapse of :func:`cox_fit_multi` applies
    with strata = bands and per-stratum covariate VALUE b: the score is

        g(beta) = sum_t [ sum_b de_b(t)*b - D(t) *
                          (sum_b n_b(t)*b*E_b) / (sum_b n_b(t)*E_b) ]

    with ``E_b = exp_micro(beta*b)`` — beta is driver-known per step,
    so every E_b is an embedded-table literal; one bounded aggregation
    per step. Update uses the sign-safe division with the default
    ``scale_den = 4 * (n_bands - 1)`` (the extra factor tames the
    larger score scale of a 0..B-1 regressor vs the binary 0/1 case).
    The exp table clamps at |beta*b| <= 4, so per-step hazard cells are
    exact and the top band's TOTAL effect saturates at e^4 — band
    coarser (smaller n_bands) for stronger exposures.

    Output (tall, scalar): ``('beta', beta_micro)``, per-band
    ``('hazard_ratio_micro_b<i>', exp-table cell at beta*i)``, audits
    ``__n_units``, ``__n_events``, per-band ``__n_band_<i>``.

    Scale: identical envelope to cox_fit_multi — one pass to
    per-(time, band) counts, one dist_cumsum over distinct times,
    n_steps bounded aggregations.
    """
    if not 2 <= n_bands <= 16:
        raise ValueError("cox_fit_banded takes 2-16 bands")
    if scale_den is None:
        scale_den = 4 * (n_bands - 1)
    band = F.expr(
        f"least(greatest((CAST({x_col} AS BIGINT) - {lo}) div {width}, 0),"
        f" {n_bands - 1})"
    )
    u = units.select(
        F.col(dur_col).cast("long").alias("t"),
        F.col(event_col).cast("long").alias("d"),
        band.alias("s"),
    ).localCheckpoint()
    meta = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("ev"),
        *[
            F.sum((F.col("s") == b).cast("long")).alias(f"nb{b}")
            for b in range(n_bands)
        ],
    ).first()
    n_ev = int(meta["ev"] or 0)
    # Size-gated score source (r15 crossover — see _cox_src)
    src = _cox_src(_cox_multi_risk(u, n_bands), n_bands)
    bvals = list(range(n_bands))
    beta = 0
    for _ in range(n_steps):
        ev_b = [
            _exp_val((beta * b)) for b in range(n_bands)
        ]
        g = _cox_scores(src, n_bands, ev_b, [bvals])[0]
        beta = beta + (1 if g >= 0 else -1) * (
            abs(g) // (scale_den * max(n_ev, 1))
        )
    rows: list[tuple[str, int]] = [("beta", int(beta))]
    for b in range(n_bands):
        rows.append((f"hazard_ratio_micro_b{b}", int(_exp_val(beta * b))))
    rows.append(("__n_units", int(meta["n"])))
    rows.append(("__n_events", n_ev))
    for b in range(n_bands):
        rows.append((f"__n_band_{b}", int(meta[f"nb{b}"] or 0)))
    return local_df(units.sparkSession, rows, "feature string, w_micro long")


def cox_fit_banded_oracle(
    units_sql: str,
    dur_sql: str,
    event_sql: str,
    x_sql: str,
    lo: int,
    width: int,
    n_bands: int = 8,
    n_steps: int = 12,
    scale_den: int | None = None,
) -> str:
    """DuckDB twin of :func:`cox_fit_banded` (unrolled MATERIALIZED CTE
    steps; per-band exp lookups index the same embedded table over the
    beta CTE with the identical integer product)."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    if not 2 <= n_bands <= 16:
        raise ValueError("cox_fit_banded takes 2-16 bands")
    if scale_den is None:
        scale_den = 4 * (n_bands - 1)
    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"

    def exp_of(bexpr: str) -> str:
        zc = f"greatest(least({bexpr}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
        return f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"

    c_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {b} THEN 1 ELSE 0 END) AS BIGINT) AS c{b}"
        for b in range(n_bands)
    )
    de_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {b} THEN d ELSE 0 END) AS BIGINT) AS de{b}"
        for b in range(n_bands)
    )
    n_cols = ", ".join(
        f"CAST(SUM(c{b}) OVER (ORDER BY t DESC) AS BIGINT) AS n{b}"
        for b in range(n_bands)
    )
    de_all = " + ".join(f"de{b}" for b in range(n_bands))
    nb_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {b} THEN 1 ELSE 0 END) AS BIGINT) AS nb{b}"
        for b in range(n_bands)
    )
    parts = [
        f"""u AS MATERIALIZED (
          SELECT CAST(({dur_sql}) AS BIGINT) AS t,
                 CAST(({event_sql}) AS BIGINT) AS d,
                 least(greatest((CAST(({x_sql}) AS BIGINT) - {lo}) // {width},
                   0), {n_bands - 1}) AS s
          FROM ({units_sql})),
        per AS MATERIALIZED (
          SELECT t, {c_cols}, {de_cols} FROM u GROUP BY t),
        riskall AS MATERIALIZED (
          SELECT t, {", ".join(f"de{b}" for b in range(n_bands))}, {n_cols}
          FROM per),
        risk AS MATERIALIZED (
          SELECT * FROM riskall WHERE {de_all} > 0),
        meta AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS ev,
                 {nb_cols}
          FROM u),
        b0 AS (SELECT CAST(0 AS BIGINT) AS beta)"""
    ]
    for st in range(n_steps):
        e_b = [exp_of(f"b{st}.beta * {b}") for b in range(n_bands)]
        den = " + ".join(f"n{b} * ({e_b[b]})" for b in range(n_bands))
        num = " + ".join(f"n{b} * {b} * ({e_b[b]})" for b in range(n_bands))
        dx = " + ".join(f"de{b} * {b}" for b in range(1, n_bands))
        parts.append(
            f"""g{st} AS MATERIALIZED (
              SELECT COALESCE(CAST(SUM(({dx}) * 1000000 - ({de_all}) *
                ((({num}) * 1000000) // ({den}))) AS BIGINT), 0) AS g
              FROM risk, b{st}),
            b{st + 1} AS MATERIALIZED (
              SELECT b{st}.beta + (CASE WHEN g{st}.g >= 0 THEN 1 ELSE -1 END)
                     * (abs(g{st}.g) // ({scale_den} * greatest(meta.ev, 1)))
                AS beta
              FROM b{st}, g{st}, meta)"""
        )
    selects = [f"SELECT 'beta' AS feature, beta AS w_micro FROM b{n_steps}"]
    for b in range(n_bands):
        selects.append(
            f"SELECT 'hazard_ratio_micro_b{b}',"
            f" {exp_of(f'b{n_steps}.beta * {b}')} FROM b{n_steps}"
        )
    selects.append("SELECT '__n_units', n FROM meta")
    selects.append("SELECT '__n_events', ev FROM meta")
    for b in range(n_bands):
        selects.append(f"SELECT '__n_band_{b}', nb{b} FROM meta")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


def cox_fit_banded_adj(
    units: DataFrame,
    dur_col: str,
    event_col: str,
    x_col: str,
    lo: int,
    width: int,
    z_cols: list[str],
    n_bands: int = 8,
    n_steps: int = 12,
    scale_den: int = 4,
) -> DataFrame:
    """ADJUSTED dose-response Cox — the banded continuous exposure of
    :func:`cox_fit_banded` CONTROLLING for binary confounders ("does
    more exposure raise the hazard, holding engagement fixed?" — the
    estimator an observational churn study actually needs). Strata are
    the cross product band x confounder-bits (``n_bands * 2^q <= 32``,
    all pivoted to columns, one dist_cumsum pass); the coefficient
    vector is (beta_dose per band step, one beta per confounder), and
    every per-stratum weight ``E_s = exp_micro(beta_dose*band(s) +
    sum_j beta_j z_j(s))`` is a driver-known embedded-table literal per
    step. One bounded aggregation per step yields ALL gradients.

    Same integer discipline as the siblings: band clamp identical in
    both engines, non-negative BIGINT score ratios, sign-safe updates
    (dose step divides by an extra ``n_bands - 1`` factor, matching
    cox_fit_banded's default).

    Output (tall, scalar): ``('beta_dose', ...)``, per confounder
    ``('beta_<z>', ...)``, per band the ADJUSTED dose hazard cell
    ``('hazard_ratio_micro_b<i>', exp-table at beta_dose*i)``, audits
    ``__n_units``, ``__n_events``, ``__n_band_<i>``,
    ``__n_treated_<z>``.
    """
    q = len(z_cols)
    ns = n_bands << q
    if not 2 <= n_bands <= 16 or q < 1 or ns > 32:
        raise ValueError("cox_fit_banded_adj: need 2<=n_bands<=16, 1+ "
                         "confounders, n_bands * 2^len(z_cols) <= 32")
    band = F.expr(
        f"least(greatest((CAST({x_col} AS BIGINT) - {lo}) div {width}, 0),"
        f" {n_bands - 1})"
    )
    s_expr = band
    for j, c in enumerate(z_cols):
        s_expr = s_expr + F.col(c).cast("long") * F.lit(n_bands << j)
    u = units.select(
        F.col(dur_col).cast("long").alias("t"),
        F.col(event_col).cast("long").alias("d"),
        s_expr.alias("s"),
    ).localCheckpoint()
    # covariate value vectors over strata: dose band + each confounder bit
    vals = [[sv % n_bands for sv in range(ns)]] + [
        [((sv // n_bands) >> j) & 1 for sv in range(ns)] for j in range(q)
    ]
    # Size-gated score source (r15 crossover — see _cox_src)
    src = _cox_src(_cox_multi_risk(u, ns), ns)
    meta = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("ev"),
        *[
            F.sum((F.col("s") % n_bands == b).cast("long")).alias(f"nb{b}")
            for b in range(n_bands)
        ],
        *[
            F.sum(
                ((F.col("s") / F.lit(n_bands)).cast("long").bitwiseAND(1 << j) > 0)
                .cast("long")
            ).alias(f"tz{j}")
            for j in range(q)
        ],
    ).first()
    n_ev = int(meta["ev"] or 0)
    dens = [scale_den * (n_bands - 1)] + [scale_den] * q
    betas = [0] * (1 + q)
    for _ in range(n_steps):
        ev_s = [
            _exp_val(sum(betas[i] * vals[i][sv] for i in range(1 + q)))
            for sv in range(ns)
        ]
        gs = _cox_scores(src, ns, ev_s, vals)
        for i in range(1 + q):
            gi = gs[i] if any(vals[i]) else 0
            betas[i] = betas[i] + (1 if gi >= 0 else -1) * (
                abs(gi) // (dens[i] * max(n_ev, 1))
            )
    rows: list[tuple[str, int]] = [("beta_dose", int(betas[0]))]
    for j, name in enumerate(z_cols):
        rows.append((f"beta_{name}", int(betas[1 + j])))
    for b in range(n_bands):
        rows.append((f"hazard_ratio_micro_b{b}", int(_exp_val(betas[0] * b))))
    rows.append(("__n_units", int(meta["n"])))
    rows.append(("__n_events", n_ev))
    for b in range(n_bands):
        rows.append((f"__n_band_{b}", int(meta[f"nb{b}"] or 0)))
    for j, name in enumerate(z_cols):
        rows.append((f"__n_treated_{name}", int(meta[f"tz{j}"] or 0)))
    return local_df(units.sparkSession, rows, "feature string, w_micro long")


def cox_fit_banded_adj_oracle(
    units_sql: str,
    dur_sql: str,
    event_sql: str,
    x_sql: str,
    lo: int,
    width: int,
    z_sqls: list[tuple[str, str]],
    n_bands: int = 8,
    n_steps: int = 12,
    scale_den: int = 4,
) -> str:
    """DuckDB twin of :func:`cox_fit_banded_adj` (unrolled MATERIALIZED
    CTE steps; identical stratum encoding, exp-table arithmetic and
    sign-safe updates over the multi-coefficient beta CTE)."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    q = len(z_sqls)
    ns = n_bands << q
    if not 2 <= n_bands <= 16 or q < 1 or ns > 32:
        raise ValueError("cox_fit_banded_adj: need 2<=n_bands<=16, 1+ "
                         "confounders, n_bands * 2^len(z_sqls) <= 32")
    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"

    def exp_of(bexpr: str) -> str:
        zc = f"greatest(least({bexpr}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
        return f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"

    vals = [[sv % n_bands for sv in range(ns)]] + [
        [((sv // n_bands) >> j) & 1 for sv in range(ns)] for j in range(q)
    ]
    s_sql = (
        f"least(greatest((CAST(({x_sql}) AS BIGINT) - {lo}) // {width}, 0),"
        f" {n_bands - 1})"
        + "".join(
            f" + CAST(({z}) AS BIGINT) * {n_bands << j}"
            for j, (_, z) in enumerate(z_sqls)
        )
    )
    c_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {sv} THEN 1 ELSE 0 END) AS BIGINT) AS c{sv}"
        for sv in range(ns)
    )
    de_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s = {sv} THEN d ELSE 0 END) AS BIGINT) AS de{sv}"
        for sv in range(ns)
    )
    n_cols = ", ".join(
        f"CAST(SUM(c{sv}) OVER (ORDER BY t DESC) AS BIGINT) AS n{sv}"
        for sv in range(ns)
    )
    de_all = " + ".join(f"de{sv}" for sv in range(ns))
    nb_cols = ", ".join(
        f"CAST(SUM(CASE WHEN s % {n_bands} = {b} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nb{b}"
        for b in range(n_bands)
    )
    tz_cols = ", ".join(
        f"CAST(SUM(CASE WHEN ((s // {n_bands}) >> {j}) & 1 = 1 THEN 1 ELSE 0"
        f" END) AS BIGINT) AS tz{j}"
        for j in range(q)
    )
    bnames = ["beta_dose"] + [f"beta{j}" for j in range(q)]
    dens = [scale_den * (n_bands - 1)] + [scale_den] * q
    parts = [
        f"""u AS MATERIALIZED (
          SELECT CAST(({dur_sql}) AS BIGINT) AS t,
                 CAST(({event_sql}) AS BIGINT) AS d,
                 {s_sql} AS s
          FROM ({units_sql})),
        per AS MATERIALIZED (
          SELECT t, {c_cols}, {de_cols} FROM u GROUP BY t),
        riskall AS MATERIALIZED (
          SELECT t, {", ".join(f"de{sv}" for sv in range(ns))}, {n_cols}
          FROM per),
        risk AS MATERIALIZED (
          SELECT * FROM riskall WHERE {de_all} > 0),
        meta AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(d) AS BIGINT) AS ev,
                 {nb_cols}, {tz_cols}
          FROM u),
        b0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS {b}" for b in bnames)})"""
    ]
    for st in range(n_steps):
        w_s = [
            " + ".join(
                [f"b{st}.{bnames[i]} * {vals[i][sv]}" for i in range(1 + q)
                 if vals[i][sv]]
                or ["0"]
            )
            for sv in range(ns)
        ]
        e_s = [exp_of(w) for w in w_s]
        den = " + ".join(f"n{sv} * ({e_s[sv]})" for sv in range(ns))
        g_cols = []
        for i in range(1 + q):
            pos = [sv for sv in range(ns) if vals[i][sv]]
            num = " + ".join(
                f"n{sv} * {vals[i][sv]} * ({e_s[sv]})" for sv in pos
            )
            dx = " + ".join(f"de{sv} * {vals[i][sv]}" for sv in pos)
            g_cols.append(
                f"COALESCE(CAST(SUM(({dx}) * 1000000 - ({de_all}) *"
                f" ((({num}) * 1000000) // ({den}))) AS BIGINT), 0) AS g{i}"
            )
        upd = ", ".join(
            f"b{st}.{bnames[i]} + (CASE WHEN g{st}.g{i} >= 0 THEN 1 ELSE -1"
            f" END) * (abs(g{st}.g{i}) // ({dens[i]} * greatest(meta.ev, 1)))"
            f" AS {bnames[i]}"
            for i in range(1 + q)
        )
        parts.append(
            f"""g{st} AS MATERIALIZED (
              SELECT {", ".join(g_cols)} FROM risk, b{st}),
            b{st + 1} AS MATERIALIZED (
              SELECT {upd} FROM b{st}, g{st}, meta)"""
        )
    selects = [
        f"SELECT 'beta_dose' AS feature, beta_dose AS w_micro FROM b{n_steps}"
    ]
    for j, (name, _) in enumerate(z_sqls):
        selects.append(
            f"SELECT 'beta_{name}', beta{j} FROM b{n_steps}"
        )
    for b in range(n_bands):
        selects.append(
            f"SELECT 'hazard_ratio_micro_b{b}',"
            f" {exp_of(f'b{n_steps}.beta_dose * {b}')} FROM b{n_steps}"
        )
    selects.append("SELECT '__n_units', n FROM meta")
    selects.append("SELECT '__n_events', ev FROM meta")
    for b in range(n_bands):
        selects.append(f"SELECT '__n_band_{b}', nb{b} FROM meta")
    for j, (name, _) in enumerate(z_sqls):
        selects.append(f"SELECT '__n_treated_{name}', tz{j} FROM meta")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


def rmst_by_arm(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    arm_col: str,
    horizon_days: int = 7,
    tau_days: int = 30,
) -> DataFrame:
    """Per-arm restricted mean survival time + the between-arm contrast
    — the causal-retention KPI on top of :func:`rmst_table` ("did the
    treated cohort survive more of the first tau days?"): each arm gets
    its own Nelson-Aalen/Fleming-Harrington curve (windows PARTITIONED
    by arm — key-partitioned, never global) under a SHARED censoring
    boundary (the corpus-wide last timestamp, so both arms are censored
    identically), and the summary row carries ``rmst(arm 1) - rmst(arm
    0)`` in micro-days. The unit's arm is ``min(arm)`` over its rows
    (deterministic if the caller's arm is constant per key, still
    well-defined if not).

    Same integer discipline as :func:`rmst_table` (quantized hazards,
    capped exp-table survival, exact micro-day step integral). The
    contrast row uses a NULL arm key (never an in-band integer — the
    psi_drift sentinel lesson) and appears only when both arms 0 and 1
    are present.

    Output: per arm ``(arm, n_units, d_events, rmst_micro_days)`` plus
    the NULL-arm contrast row (n_units/d_events = totals, rmst =
    difference).
    """
    from flink_example_spark.operators.ml import _EXP_TABLE, _exp_bucket_sql

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day_us = 86400 * 1_000_000
    spans = df.groupBy(F.col(key_col).alias("k")).agg(
        F.min(us).alias("lo"),
        F.max(us).alias("hi"),
        F.min(F.col(arm_col).cast("long")).alias("arm"),
    )
    end = spans.agg(F.max("hi").alias("span_end"))
    lt = spans.crossJoin(F.broadcast(end)).select(
        "arm",
        F.expr(f"(hi - lo) div {day_us}").alias("t_days"),
        (
            F.col("hi") <= F.col("span_end") - F.lit(horizon_days * day_us)
        ).alias("observed"),
    )
    per_t = lt.groupBy("arm", "t_days").agg(
        F.sum(F.col("observed").cast("bigint")).alias("d_events"),
        F.sum((~F.col("observed")).cast("bigint")).alias("c_censored"),
    )
    w_rev = (
        Window.partitionBy("arm")
        .orderBy("t_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_cum = (
        Window.partitionBy("arm")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("arm").orderBy("t_days")
    arr = F.array(*[F.lit(v) for v in _EXP_TABLE])
    tau = int(tau_days)
    curve = (
        per_t.select(
            "arm",
            "t_days",
            "d_events",
            "c_censored",
            F.sum(F.col("d_events") + F.col("c_censored"))
            .over(w_rev)
            .alias("n_risk"),
        )
        .select(
            "arm",
            "t_days",
            "d_events",
            "c_censored",
            F.expr("(d_events * 1000000) div n_risk").alias("hz_micro"),
        )
        .select(
            "arm",
            "t_days",
            "d_events",
            "c_censored",
            F.sum("hz_micro").over(w_cum).alias("na_cum_micro"),
        )
        .select(
            "arm",
            "t_days",
            "d_events",
            "c_censored",
            F.least(
                F.element_at(
                    arr,
                    F.expr(_exp_bucket_sql("-na_cum_micro")).cast("int"),
                ),
                F.lit(1_000_000),
            ).alias("s_micro"),
        )
        .select(
            "arm",
            "t_days",
            "d_events",
            "c_censored",
            "s_micro",
            (
                F.least(
                    F.lead("t_days", default=tau).over(w_all), F.lit(tau)
                )
                - F.least(F.col("t_days"), F.lit(tau))
            ).alias("__seg"),
        )
    )
    per_arm = curve.groupBy("arm").agg(
        F.sum(F.col("d_events") + F.col("c_censored")).alias("n_units"),
        F.sum("d_events").alias("d_events"),
        (
            F.least(F.min("t_days"), F.lit(tau)) * F.lit(1_000_000)
            + F.sum(F.col("s_micro") * F.col("__seg"))
        ).alias("rmst_micro_days"),
    ).localCheckpoint(eager=True)
    both = per_arm.filter(F.col("arm").isin(0, 1)).agg(
        F.count(F.lit(1)).alias("n_arms")
    )
    diff = (
        per_arm.crossJoin(F.broadcast(both))
        .filter(F.col("n_arms") == 2)
        .agg(
            F.lit(None).cast("long").alias("arm"),
            F.sum("n_units").alias("n_units"),
            F.sum("d_events").alias("d_events"),
            F.sum(
                F.when(F.col("arm") == 1, F.col("rmst_micro_days"))
                .when(F.col("arm") == 0, -F.col("rmst_micro_days"))
                .otherwise(F.lit(0))
            ).alias("rmst_micro_days"),
        )
        .filter(F.col("n_units").isNotNull())
    )
    return per_arm.unionByName(diff)


def rmst_by_arm_oracle(
    table: str,
    key_col: str,
    ts_col: str,
    arm_sql: str,
    horizon_days: int = 7,
    tau_days: int = 30,
) -> str:
    """DuckDB twin of :func:`rmst_by_arm` (identical shared censoring
    boundary, arm-partitioned windows, capped exp lookup, and NULL-arm
    contrast row)."""
    from flink_example_spark.operators.ml import (
        _EXP_CLAMP_HI,
        _EXP_CLAMP_LO,
        _EXP_TABLE,
        _SIG_STEP,
    )

    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"
    zc = (
        f"greatest(least(-na_cum_micro, {_EXP_CLAMP_HI - 1}),"
        f" {_EXP_CLAMP_LO})"
    )
    s_expr = f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"
    day_us = 86400 * 1_000_000
    tau = int(tau_days)
    return f"""
        WITH spans AS MATERIALIZED (
          SELECT {key_col} AS k, MIN(epoch_us({ts_col})) AS lo,
                 MAX(epoch_us({ts_col})) AS hi,
                 MIN(CAST(({arm_sql}) AS BIGINT)) AS arm
          FROM {table} GROUP BY 1
        ), e AS (SELECT MAX(hi) AS span_end FROM spans),
        per_t AS MATERIALIZED (
          SELECT arm, (hi - lo) // {day_us} AS t_days,
                 CAST(SUM(CASE WHEN hi <= span_end
                   - {horizon_days * day_us} THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_events,
                 CAST(SUM(CASE WHEN hi <= span_end
                   - {horizon_days * day_us} THEN 0 ELSE 1 END) AS BIGINT)
                   AS c_censored
          FROM spans CROSS JOIN e GROUP BY 1, 2
        ),
        risked AS MATERIALIZED (
          SELECT arm, t_days, d_events, c_censored,
                 CAST(SUM(d_events + c_censored) OVER (PARTITION BY arm
                   ORDER BY t_days ROWS BETWEEN CURRENT ROW AND
                   UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
          FROM per_t
        ),
        haz AS MATERIALIZED (
          SELECT arm, t_days, d_events, c_censored,
                 CAST(SUM((d_events * 1000000) // n_risk) OVER (
                   PARTITION BY arm ORDER BY t_days ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS na_cum_micro
          FROM risked
        ),
        curve AS MATERIALIZED (
          SELECT arm, t_days, d_events, c_censored,
                 CAST(least({s_expr}, 1000000) AS BIGINT) AS s_micro,
                 least(lead(t_days, 1, {tau}) OVER (PARTITION BY arm
                   ORDER BY t_days), {tau}) - least(t_days, {tau})
                   AS __seg
          FROM haz
        ),
        per_arm AS MATERIALIZED (
          SELECT arm,
                 CAST(SUM(d_events + c_censored) AS BIGINT) AS n_units,
                 CAST(SUM(d_events) AS BIGINT) AS d_events,
                 CAST(least(MIN(t_days), {tau}) * 1000000
                      + SUM(s_micro * __seg) AS BIGINT)
                   AS rmst_micro_days
          FROM curve GROUP BY 1
        ),
        barms AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_arms FROM per_arm
          WHERE arm IN (0, 1)
        )
        SELECT arm, n_units, d_events, rmst_micro_days FROM per_arm
        UNION ALL
        SELECT CAST(NULL AS BIGINT),
               CAST(SUM(n_units) AS BIGINT),
               CAST(SUM(d_events) AS BIGINT),
               CAST(SUM(CASE WHEN arm = 1 THEN rmst_micro_days
                             WHEN arm = 0 THEN -rmst_micro_days
                             ELSE 0 END) AS BIGINT)
        FROM per_arm, barms WHERE barms.n_arms = 2
    """
