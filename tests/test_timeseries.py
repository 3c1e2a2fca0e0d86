"""Resample-to-grid (ffill + linear interpolation) and gap detection:
exact values on a hand-computed series, grid boundary behavior, and the
one-shuffle plan shape."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from flink_example_spark.operators.timeseries import resample, time_gaps


def _series(spark):
    rows = [
        ("u", datetime(2024, 1, 1, 0, 0, 0), 10.0),
        ("u", datetime(2024, 1, 1, 0, 0, 40), 30.0),
        ("u", datetime(2024, 1, 1, 0, 1, 30), 100.0),
    ]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_resample_ffill_and_interpolation_exact(spark):
    # 10s grid from 00:00:00 to 00:01:30 -> 10 points
    out = {
        r["grid_ts"]: (r["v_ffill"], r["v_interp"], r["staleness_us"])
        for r in resample(_series(spark), "k", "ts", "v", step_sec=10).collect()
    }
    assert len(out) == 10
    # on-observation grid points are exact, zero staleness
    assert out[datetime(2024, 1, 1, 0, 0, 0)] == (10.0, 10.0, 0)
    assert out[datetime(2024, 1, 1, 0, 0, 40)] == (30.0, 30.0, 0)
    # t=20s: ffill=10, interp = 10 + (30-10) * 20/40 = 20
    assert out[datetime(2024, 1, 1, 0, 0, 20)] == (10.0, 20.0, 20_000_000)
    # t=60s: ffill=30, interp = 30 + (100-30) * 20/50 = 58
    assert out[datetime(2024, 1, 1, 0, 1, 0)] == (30.0, 58.0, 20_000_000)


def test_resample_duplicate_timestamps_take_max(spark):
    rows = [
        ("u", datetime(2024, 1, 1), 1.0),
        ("u", datetime(2024, 1, 1), 5.0),  # same instant: MAX wins
        ("u", datetime(2024, 1, 2), 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = sorted(
        (r["grid_ts"], r["v_ffill"])
        for r in resample(df, "k", "ts", "v", step_sec=86400).collect()
    )
    assert out == [(datetime(2024, 1, 1), 5.0), (datetime(2024, 1, 2), 2.0)]


def test_resample_single_window_plan(spark):
    """The whole resample is ONE partition-by-key exchange feeding both
    window passes — no grid-to-observation join."""
    plan = resample(
        _series(spark), "k", "ts", "v", step_sec=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_time_gaps_thresholds(spark):
    rows = [
        ("u", datetime(2024, 1, 1, 0, 0, 0)),
        ("u", datetime(2024, 1, 1, 1, 0, 0)),   # 1h gap
        ("u", datetime(2024, 1, 1, 1, 0, 30)),  # 30s
        ("w", datetime(2024, 1, 1, 0, 0, 0)),   # single event: no pair
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    gaps = time_gaps(df, "k", "ts", min_gap_sec=1800).collect()
    assert len(gaps) == 1
    g = gaps[0]
    assert (g["k"], g["gap_us"]) == ("u", 3_600_000_000)
    assert g["gap_start"] == datetime(2024, 1, 1, 0, 0, 0)
    assert g["gap_end"] == datetime(2024, 1, 1, 1, 0, 0)


def test_ohlc_bars_deterministic_ties(spark):
    """Same-timestamp rows resolve open/close by the seq tiebreaker, and
    high/low/count/sum are exact."""
    from datetime import datetime

    from flink_example_spark.operators.timeseries import ohlc_bars

    t = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        ("u", t, 1, 5.0),   # open (seq 1 at the tied earliest instant)
        ("u", t, 2, 9.0),
        ("u", datetime(2024, 3, 1, 13, 0, 0), 3, 2.0),  # low
        ("u", datetime(2024, 3, 1, 14, 0, 0), 4, 7.5),  # close
        ("u", datetime(2024, 3, 2, 9, 0, 0), 5, 4.0),   # next-day bar
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, seq long, v double")
    out = {
        r["bar_ts"].day: r
        for r in ohlc_bars(df, "k", "ts", "v", seq_col="seq").collect()
    }
    b1 = out[1]
    assert (b1["open"], b1["high"], b1["low"], b1["close"]) == (5.0, 9.0, 2.0, 7.5)
    assert (b1["n_events"], b1["vol_sum"]) == (4, 23.5)
    assert (out[2]["open"], out[2]["close"], out[2]["n_events"]) == (4.0, 4.0, 1)


def test_seasonal_anomalies_hour_aware(spark):
    """A spike is judged against its own hour's baseline: hour 9 runs at 2
    events/day, hour 23 at 8/day — a 6-event hour-9 day flags while a
    6-event hour-23 day (below its baseline) must not."""
    from datetime import datetime

    from flink_example_spark.operators.timeseries import seasonal_anomalies

    rows = []
    for day in range(1, 6):
        n9 = 6 if day == 3 else 2   # spike on day 3
        for i in range(n9):
            rows.append(("k", datetime(2024, 4, day, 9, i)))
        n23 = 6 if day == 3 else 8  # day-3 dip at hour 23, not a spike
        for i in range(n23):
            rows.append(("k", datetime(2024, 4, day, 23, i)))
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = [
        (r["day"].day, r["hour"], r["n"], r["med"])
        for r in seasonal_anomalies(df, "key", "ts").collect()
    ]
    assert out == [(3, 9, 6, 2.0)]


def test_rolling_active_users_window(spark):
    from datetime import datetime

    from flink_example_spark.operators.timeseries import rolling_active_users

    rows = [
        ("a", datetime(2024, 1, 1, 5)),
        ("b", datetime(2024, 1, 3, 6)),
        ("a", datetime(2024, 1, 10, 7)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r["report_day"].day: r["n_active"] for r in rolling_active_users(df).collect()}
    # day 3..7: both a (day1) and b (day3) inside the trailing 7 days
    assert out[3] == 2 and out[7] == 2
    # day 8,9: a's day-1 activity aged out, only b remains
    assert out[8] == 1 and out[9] == 1
    # day 10: b (day 3) aged out too; a's return keeps it at 1; clipped at 10
    assert out[10] == 1 and max(out) == 10


def test_cusum_matches_sequential_recurrence(spark):
    from flink_example_spark.operators.timeseries import cusum_changepoints
    import datetime

    # hand-built series with a level shift halfway
    vals = [10.0, 11.0, 9.0, 10.0, 10.5, 30.0, 31.0, 29.5, 30.5, 31.5]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("k", base + datetime.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, seq long, v double")
    h, scale = 8.0, 1000
    out = cusum_changepoints(df, "key", "ts", "v", "seq", h=h, scale=scale).collect()
    assert len(out) == 1
    r = out[0]

    # sequential reference: S_i = max(0, S_{i-1} + (n*vq_i - T))
    vq = [int(v * scale + 0.5) for v in vals]
    n, t = len(vq), sum(vq)
    s, alarms, first = 0, 0, None
    max_s = 0
    for i, q in enumerate(vq):
        s = max(0, s + n * q - t)
        max_s = max(max_s, s)
        if s > h * n * scale:
            alarms += 1
            first = first if first is not None else i
    assert r["n"] == n
    assert r["n_alarms"] == alarms
    assert alarms > 0 and first is not None
    assert r["first_alarm_ts"] == base + datetime.timedelta(minutes=first)
    assert r["max_stat"] == max_s / (n * scale)


def test_ewma_matches_truncated_weights(spark):
    from flink_example_spark.operators.timeseries import ewma_smooth, _EWMA_H
    import datetime

    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 5.0, 5.0, 5.0, 5.0, 5.0]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("k", base + datetime.timedelta(hours=i), i, v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, seq long, v double")
    out = sorted(
        ewma_smooth(df, "key", "ts", "v", "seq").collect(), key=lambda r: r["ts"]
    )
    scale = 1000
    vq = [int(v * scale + 0.5) for v in vals]
    for i, r in enumerate(out):
        num = den = 0
        for k in range(min(i, _EWMA_H) + 1):
            w = 1 << (_EWMA_H - k)
            num += w * vq[i - k]
            den += w
        assert r["ewma"] == num / (den * scale)
    # steady state: late points converge near 5.0 (weights favor recent)
    assert abs(out[-1]["ewma"] - 5.0) < 0.25


def test_streaming_cusum_matches_batch_target_form(spark):
    import os

    from flink_example_spark.operators.timeseries import cusum_changepoints
    from flink_example_spark.streaming.timeseries_stream import run_streaming_cusum
    from flink_example_spark.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    batch = cusum_changepoints(
        load_table(spark, sf, "events"), "event_type", "ts", "value",
        "event_id", h=500.0, target=55.0,
    )
    stream = run_streaming_cusum(spark, sf, h=500.0, target=55.0, chunks=2)
    b = {r["event_type"]: r for r in batch.collect()}
    s = {r["event_type"]: r for r in stream.collect()}
    assert set(b) == set(s)
    for k in b:
        for c in ("n", "n_alarms", "first_alarm_ts", "max_stat"):
            assert b[k][c] == s[k][c], (k, c, b[k][c], s[k][c])


def _brute_acf(xs, max_lag, scale=100):
    """Pure-Python replica of the acf contract: quantized bucket totals,
    floor-mean centering, exact integer num/den."""
    q = [int(x * scale + 0.5) for x in xs]  # positive test values
    n, s = len(q), sum(q)
    y = [v - (s // n) for v in q]
    den = sum(v * v for v in y)
    out = {}
    for k in range(1, max_lag + 1):
        num = sum(y[i] * y[i + k] for i in range(n - k))
        out[k] = (n - k, num, den)
    return out


def test_acf_matches_integer_reference(spark):
    from datetime import datetime, timedelta

    from flink_example_spark.operators.timeseries import acf

    xs = [1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 2.0, 8.0]
    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(hours=i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    got = {
        r["lag"]: (r["n_pairs"], r["num"], r["den"])
        for r in acf(df, "g", "ts", "v", max_lag=3).collect()
    }
    assert got == _brute_acf(xs, 3)


def test_acf_alternating_series_is_negative_at_lag1(spark):
    from datetime import datetime, timedelta

    from flink_example_spark.operators.timeseries import acf

    xs = [2.0, 0.0] * 6
    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(hours=i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    got = {r["lag"]: r["acf"] for r in acf(df, "g", "ts", "v", max_lag=2).collect()}
    assert got[1] < 0 < got[2]


def _brute_decompose(xs, period, scale=100):
    """Pure-Python replica of seasonal_decompose: centered-MA trend in
    2*period units over complete windows, per-phase sums of detrended."""
    q = [int(x * scale + 0.5) for x in xs]
    h = period // 2
    out = {}
    for t in range(h, len(q) - h):
        s = sum(q[t - h : t + h + 1])
        t2 = 2 * s - q[t - h] - q[t + h]
        d = 2 * period * q[t] - t2
        ph = t % period
        cnt, tot = out.get(ph, (0, 0))
        out[ph] = (cnt + 1, tot + d)
    return out


def test_seasonal_decompose_matches_reference_and_recovers_shape(spark):
    from datetime import datetime, timedelta

    from flink_example_spark.operators.timeseries import seasonal_decompose

    # period-4 pattern [4, 0, 0, 0] with no trend, 6 full cycles
    xs = [4.0, 0.0, 0.0, 0.0] * 6
    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(hours=i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    res = seasonal_decompose(
        df, "g", "ts", "v", period=4, step_sec=3600
    ).collect()
    got = {r["phase"]: (r["s_cnt"], r["s_num"]) for r in res}
    want = _brute_decompose(xs, 4)
    # bucket index = hours since epoch, phase offset is stable mod 4;
    # compare as multisets of (count, sum) profiles
    assert sorted(got.values()) == sorted(want.values())
    # the spike phase dominates: one seasonal value ~ +3, three ~ -1
    seas = sorted(r["seasonal"] for r in res)
    assert seas[-1] > 2.5 and all(s < 0 for s in seas[:3])


def test_survival_table_hand_checked(spark):
    from datetime import datetime, timedelta

    from flink_example_spark.operators.timeseries import survival_table

    t0 = datetime(2024, 1, 1)
    rows = []
    # u1: lifetime 2 days, churned long before end; u2: lifetime 2 days,
    # churned; u3: lifetime 0, churned; u4: active until the end (censored)
    for u, (start, life) in {
        "u1": (0, 2), "u2": (1, 2), "u3": (3, 0), "u4": (0, 30)
    }.items():
        rows.append((u, t0 + timedelta(days=start)))
        rows.append((u, t0 + timedelta(days=start + life)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r["t_days"]: r for r in survival_table(df, "user_id", "ts").collect()}
    # t=0: risk 4, 1 churn -> hazard 1/4; t=2: risk 3, 2 churn; t=30 censored
    assert out[0]["n_risk"] == 4 and out[0]["d_events"] == 1
    assert out[2]["n_risk"] == 3 and out[2]["d_events"] == 2
    assert out[30]["c_censored"] == 1 and out[30]["d_events"] == 0
    assert out[0]["na_cum_micro"] == 250_000
    assert out[2]["na_cum_micro"] == 250_000 + (2 * 1_000_000) // 3


def test_theil_sen_ignores_outlier_ols_chases(spark):
    """A clean unit-slope daily series with one wild spike: Theil-Sen
    recovers slope 1.0 exactly; the median-residual intercept recovers 0."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import theil_sen

    rows = []
    for d in range(11):
        v = 1000.0 if d == 5 else float(d)
        rows.append(("k", datetime(2024, 1, 1 + d, tzinfo=timezone.utc), v))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    r = theil_sen(df).collect()[0]
    assert r["n_days"] == 11
    assert r["slope_per_day"] == 1.0
    assert r["intercept"] + r["slope_per_day"] * 19723 == 0.0  # day index of 2024-01-01


def test_ar2_forecast_matches_lstsq(spark):
    """AR(2) ppm coefficients agree with numpy least squares on the same
    quantized daily series (to the 1e-6 truncation the ppm scale implies)."""
    import numpy as np
    from pyspark.sql import Row

    from flink_example_spark.operators.timeseries import ar2_forecast

    rng = [0.0] * 40
    # deterministic AR(2)-ish series: x_t = 30 + 0.6 x_{t-1} - 0.2 x_{t-2} + bump
    for t in range(40):
        prev1 = rng[t - 1] if t >= 1 else 50.0
        prev2 = rng[t - 2] if t >= 2 else 50.0
        rng[t] = 30.0 + 0.6 * prev1 - 0.2 * prev2 + ((t * 7919) % 13 - 6) * 1.5
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_type="g", ts=base + dt.timedelta(days=t), value=rng[t])
        for t in range(40)
    ]
    out = ar2_forecast(spark.createDataFrame(rows), "event_type", "ts", "value").first()
    vq = np.floor(np.array(rng) * 100 + 0.5)
    y, a, b = vq[2:], vq[1:-1], vq[:-2]
    X = np.column_stack([np.ones_like(a), a, b])
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert out["n_triples"] == 38
    assert abs(out["phi1_ppm"] / 1e6 - coef[1]) < 2e-6
    assert abs(out["phi2_ppm"] / 1e6 - coef[2]) < 2e-6
    pred = coef[0] + coef[1] * vq[-1] + coef[2] * vq[-2]
    assert abs(out["forecast_centi"] - pred) < 3


def test_interval_merge_swallows_nested_intervals(spark):
    """A long interval swallowing later-starting short ones must coalesce
    into ONE island (the case lag-gap sessionization gets wrong)."""
    import datetime as dt

    from pyspark.sql import Row

    from flink_example_spark.operators.timeseries import interval_merge

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

    def r(eid, start_min, dur_min):
        return Row(
            user_id=1,
            event_id=eid,
            ts=t0 + dt.timedelta(minutes=start_min),
            value=float(dur_min),
        )

    rows = [
        r(1, 0, 60),   # [0, 60)
        r(2, 10, 5),   # nested
        r(3, 50, 20),  # overlaps tail -> extends to 70
        r(4, 100, 10), # separate island [100, 110)
    ]
    out = interval_merge(spark.createDataFrame(rows)).first()
    assert out["n_intervals"] == 4
    assert out["n_islands"] == 2
    assert out["covered_us"] == (70 + 10) * 60_000_000
    assert out["max_island_us"] == 70 * 60_000_000


def test_ar2_constant_series_is_filtered(spark):
    """A constant series has zero centered variance -> Cramer determinant 0
    -> the key is dropped rather than dividing by zero (ANSI-safe)."""
    import datetime as dt

    from pyspark.sql import Row

    from flink_example_spark.operators.timeseries import ar2_forecast

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_type="flat", ts=t0 + dt.timedelta(days=i), value=42.0)
        for i in range(10)
    ]
    assert ar2_forecast(spark.createDataFrame(rows)).count() == 0


def test_granger_detects_lagged_dependence(spark):
    """y literally equals lag-1 of x (plus a level): the unrestricted fit
    should explain (almost) everything and improve_ppm ~ 1e6, while the
    reverse direction explains ~nothing."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import granger_screen

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    xs = [3, 9, 1, 7, 5, 8, 2, 6, 4, 10, 1, 9, 3, 7]
    rows = []
    for d, x in enumerate(xs):
        rows.append(("x", ts(d), float(x)))
        y = 50 + (xs[d - 1] if d > 0 else 5) * 7
        rows.append(("y", ts(d), float(y)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        (r["cause"], r["effect"]): r
        for r in granger_screen(df, "event_type", "ts", "value").collect()
    }
    fwd, rev = out[("x", "y")], out[("y", "x")]
    assert fwd["improve_ppm"] > 900_000  # x's lag explains y almost fully
    assert fwd["sse_u"] < fwd["sse_r"]
    assert rev["improve_ppm"] < fwd["improve_ppm"]


def test_holt_tracks_linear_trend_exactly_in_limit(spark):
    """On a perfectly linear series the Holt recurrences converge toward
    (level = last value, trend = slope); with integer micro state the
    one-step forecast lands within a centi-unit of the true next point."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import holt_forecast

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    # v_d = 10 + 5d over 40 days (in whole units -> centi 1000 + 500d)
    rows = [("k", ts(d), float(10 + 5 * d)) for d in range(40)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    r = holt_forecast(df, "event_type", "ts", "value").collect()[0]
    assert r["n_days"] == 40
    true_next_centi = (10 + 5 * 40) * 100
    assert abs(r["forecast_centi"] - true_next_centi) <= 600  # within 6 units
    assert 400 <= r["trend_centi"] <= 520  # slope 5 units = 500 centi


def test_holt_constant_series_flat(spark):
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import holt_forecast

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    rows = [("k", ts(d), 7.0) for d in range(10)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    r = holt_forecast(df, "event_type", "ts", "value").collect()[0]
    assert abs(r["level_centi"] - 700) <= 1
    assert abs(r["trend_centi"]) <= 1
    assert abs(r["forecast_centi"] - 700) <= 2


def test_dtw_shifted_copy_beats_unrelated(spark):
    """A one-day-shifted copy should be MUCH closer under DTW than an
    unrelated series — the property Pearson correlation lacks."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import dtw_matrix

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    base = [10, 80, 10, 70, 10, 90, 10, 60] * 3  # 24 days, spiky
    rows = []
    for d in range(24):
        rows.append(("a", ts(d), float(base[d])))
        rows.append(("b", ts(d), float(base[d - 1])))  # shifted copy
        rows.append(("c", ts(d), float(40 + (d % 3))))  # flat-ish unrelated
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        (r["key_a"], r["key_b"]): r["dtw_dist"]
        for r in dtw_matrix(df, "event_type", "ts", "value").collect()
    }
    assert out[("a", "b")] < out[("a", "c")] / 3
    assert all(v >= 0 for v in out.values())


def test_dtw_identical_series_zero(spark):
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import dtw_matrix

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    rows = []
    for d in range(24):
        v = float(10 + 7 * (d % 5))
        rows.append(("x", ts(d), v))
        rows.append(("y", ts(d), v))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    r = dtw_matrix(df, "event_type", "ts", "value").collect()[0]
    assert r["dtw_dist"] == 0 and r["n_points"] == 24


def test_season_strength_separates_seasonal_from_noise(spark):
    """A pure daily sine-like profile scores near 1e6; a linear ramp
    (no daily shape) scores near 0."""
    from datetime import datetime, timedelta, timezone

    from flink_example_spark.operators.timeseries import season_strength

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    prof = [10, 40, 90, 140, 180, 190, 170, 130, 80, 30, 5, 0] * 2  # 24h shape
    for h in range(24 * 6):
        rows.append(("seasonal", base + timedelta(hours=h), float(prof[h % 24])))
        # perfect ramp: detrends to a constant -> Var(detrended) = 0 ->
        # F_s undefined -> key filtered (the honest NULL)
        rows.append(("ramp", base + timedelta(hours=h), float(h)))
        # aperiodic pseudo-noise: no 24h structure -> low strength
        rows.append(("noise", base + timedelta(hours=h), float(h * 37 % 101)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r["event_type"]: r["strength_ppm"]
        for r in season_strength(df, "event_type", "ts", "value").collect()
    }
    assert out["seasonal"] > 900_000
    assert "ramp" not in out
    assert out["noise"] < out["seasonal"] - 300_000


def test_max_drawdown_known_path(spark):
    """Cumulative path 10, 30, 20, 5, 25: peak 30, trough 5 -> dd 25."""
    from datetime import datetime, timedelta, timezone

    from flink_example_spark.operators.timeseries import max_drawdown

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    deltas = [10, 20, -10, -15, 20]
    rows = [("k", base + timedelta(days=d), float(v)) for d, v in enumerate(deltas)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    r = max_drawdown(df, "event_type", "ts", "value").collect()[0]
    assert r["peak_centi"] == 3000
    assert r["max_drawdown_centi"] == 2500
    assert r["final_centi"] == 2500
    assert r["trough_day"] == (base + timedelta(days=3)).timestamp() // 86400
    assert r["n_days"] == 5


def test_dtw_band_properties(spark):
    """Sakoe-Chiba band: band >= n-1 equals the unbanded DP exactly;
    a narrow band upper-bounds it (restricting paths can only raise the
    optimum); a one-step-shifted copy still aligns inside band=2."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import dtw_matrix

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    base = [10, 80, 10, 70, 10, 90, 10, 60] * 3
    rows = []
    for d in range(24):
        rows.append(("a", ts(d), float(base[d])))
        rows.append(("b", ts(d), float(base[d - 1])))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")

    def dist(**kw):
        return dtw_matrix(df, "event_type", "ts", "value", **kw).collect()[0][
            "dtw_dist"
        ]

    full = dist()
    assert dist(band=23) == full
    assert dist(band=2) >= full
    # the shift-1 alignment lives within |i-j| <= 2, so the band barely hurts
    assert dist(band=2) <= full + 2 * max(base)


def test_ccf_detects_known_lead(spark):
    """Series B is series A shifted by +2 buckets: the cross-correlation
    must peak (exactly 1.0) at lag +2 and be symmetric-degraded away
    from it."""
    from datetime import datetime, timedelta

    from flink_example_spark.operators.timeseries import ccf

    base = datetime(2024, 3, 1)
    rows = []
    # A fires k times in hour t; B fires the same k times in hour t+2
    pattern = [1, 3, 1, 5, 2, 4, 1, 2, 6, 1, 3, 2]
    for t, k in enumerate(pattern):
        for j in range(k):
            rows.append((base + timedelta(hours=t, minutes=j), "a"))
            rows.append((base + timedelta(hours=t + 2, minutes=j), "b"))
    df = spark.createDataFrame(rows, "ts timestamp, kind string")
    out = {
        r["lag"]: r for r in ccf(
            df, "ts", "kind = 'a'", "kind = 'b'", max_lag=3
        ).collect()
    }
    assert out[2]["ccf"] == 1.0  # exact: identical centered series
    assert out[2]["n_pairs"] == len(pattern)
    assert all(out[lag]["ccf"] < 1.0 for lag in out if lag != 2)


def test_cox_fit_detects_planted_hazard(spark):
    """Exposed units churn twice as fast (durations 1..10 vs 2..20): the
    fitted beta must be positive (hazard ratio > 1), and a rerun is
    bit-identical. A constant covariate yields a zero score and beta 0."""
    from flink_example_spark.operators.timeseries import cox_fit

    rows = [(d, 1, 1) for d in range(1, 11)] * 4 + [
        (2 * d, 1, 0) for d in range(1, 11)
    ] * 4
    df = spark.createDataFrame(rows, "dur long, d long, x long")
    out1 = {
        r["feature"]: r["w_micro"]
        for r in cox_fit(df, "dur", "d", "x", n_steps=20).collect()
    }
    out2 = {
        r["feature"]: r["w_micro"]
        for r in cox_fit(df, "dur", "d", "x", n_steps=20).collect()
    }
    assert out1 == out2
    assert out1["__n_units"] == 80 and out1["__n_events"] == 80
    assert out1["beta"] > 0
    assert out1["hazard_ratio_micro"] > 1_000_000
    const = spark.createDataFrame(
        [(d, 1, 1) for d in range(1, 11)], "dur long, d long, x long"
    )
    cz = {
        r["feature"]: r["w_micro"]
        for r in cox_fit(const, "dur", "d", "x", n_steps=5).collect()
    }
    assert cz["beta"] == 0


def test_cox_multi_separates_real_from_null_covariate(spark):
    """Two binary covariates, one doubling the hazard and one independent
    of it: beta for the real exposure lands positive, the null covariate
    stays at (or near) zero, and the output is deterministic."""
    from flink_example_spark.operators.timeseries import cox_fit_multi

    rows = []
    for a in (0, 1):
        for b in (0, 1):
            for k in range(30):
                dur = 5 + (k % 17) * (1 if a else 2)
                d = 1 if (k % 5) != 0 else 0
                rows.append((dur, d, a, b))
    u = spark.createDataFrame(rows, "dur long, d long, a long, b long")
    out1 = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_multi(u, "dur", "d", ["a", "b"]).collect()
    }
    out2 = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_multi(u, "dur", "d", ["a", "b"]).collect()
    }
    assert out1 == out2
    assert out1["beta_a"] > 300_000  # exp(0.3) ~ 1.35: clearly positive
    assert abs(out1["beta_b"]) <= 100_000
    assert out1["__n_units"] == 120 and out1["__n_treated_a"] == 60


def test_cox_multi_matches_duckdb_oracle(spark):
    """The unrolled-CTE oracle evaluates the identical integer descent:
    every output row (betas, hazard cells, audits) is bit-equal."""
    import duckdb
    import pandas as pd

    from flink_example_spark.operators.timeseries import (
        cox_fit_multi,
        cox_fit_multi_oracle,
    )

    rows = []
    for a in (0, 1):
        for b in (0, 1):
            for k in range(25):
                dur = 3 + ((k * 7 + a * 3 + b) % 23) * (2 - a)
                d = 1 if (k % 4) != 0 else 0
                rows.append((dur, d, a, b))
    u = spark.createDataFrame(rows, "dur long, d long, a long, b long")
    got = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_multi(u, "dur", "d", ["a", "b"]).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["dur", "d", "a", "b"]))
    ora = dict(
        con.execute(
            cox_fit_multi_oracle(
                "SELECT * FROM t", "dur", "d", [("a", "a"), ("b", "b")]
            )
        ).fetchall()
    )
    assert got == ora


def test_cox_multi_rejects_bad_arity(spark):
    import pytest

    from flink_example_spark.operators.timeseries import (
        cox_fit_multi,
        cox_fit_multi_oracle,
    )

    u = spark.createDataFrame([(1, 1, 0)], "dur long, d long, x long")
    with pytest.raises(ValueError):
        cox_fit_multi(u, "dur", "d", [])
    with pytest.raises(ValueError):
        cox_fit_multi_oracle("t", "dur", "d", [("a", "a")] * 5)


def test_cox_multi_zero_covariate_is_inert(spark):
    """Appending an all-zero covariate doubles the stratum space with
    EMPTY strata, which contribute nothing to any sum: the real
    covariate's trajectory is unchanged and the zero covariate's beta
    stays exactly 0."""
    from flink_example_spark.operators.timeseries import cox_fit_multi

    rows = []
    for a in (0, 1):
        for k in range(40):
            dur = 4 + (k % 13) * (1 if a else 2)
            d = 1 if (k % 3) != 0 else 0
            rows.append((dur, d, a, 0))
    u = spark.createDataFrame(rows, "dur long, d long, a long, z long")
    solo = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_multi(u, "dur", "d", ["a"]).collect()
    }
    both = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_multi(u, "dur", "d", ["a", "z"]).collect()
    }
    assert both["beta_a"] == solo["beta_a"]
    assert both["beta_z"] == 0
    assert both["__n_treated_z"] == 0


def test_cox_banded_dose_response_and_oracle(spark):
    """A hazard that grows with dose yields positive beta (monotone band
    hazard ratios); a shuffled (null) dose stays near 0; the unrolled
    oracle is bit-equal."""
    import duckdb
    import pandas as pd

    from flink_example_spark.operators.timeseries import (
        cox_fit_banded,
        cox_fit_banded_oracle,
    )

    rows = []
    for dose in range(0, 71, 10):
        for k in range(25):
            dur = 3 + ((k * 5 + 7) % 19) * (8 - dose // 10)
            d = 1 if (k % 4) != 0 else 0
            rows.append((dur, d, dose))
    u = spark.createDataFrame(rows, "dur long, d long, dose long")
    got = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_banded(
            u, "dur", "d", "dose", lo=0, width=10, n_bands=8
        ).collect()
    }
    assert got["beta"] > 150_000  # clearly positive per-band effect
    hrs = [got[f"hazard_ratio_micro_b{b}"] for b in range(8)]
    assert hrs == sorted(hrs) and hrs[0] == got["hazard_ratio_micro_b0"]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["dur", "d", "dose"]))
    ora = dict(
        con.execute(
            cox_fit_banded_oracle(
                "SELECT * FROM t", "dur", "d", "dose", lo=0, width=10, n_bands=8
            )
        ).fetchall()
    )
    assert got == ora
    # null dose: no relation between dose and duration
    rows2 = [
        (3 + ((k * 5 + 7) % 19), 1 if k % 4 else 0, (k * 13) % 70)
        for k in range(200)
    ]
    u2 = spark.createDataFrame(rows2, "dur long, d long, dose long")
    g2 = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_banded(
            u2, "dur", "d", "dose", lo=0, width=10, n_bands=8
        ).collect()
    }
    assert abs(g2["beta"]) < 20_000


def test_cox_banded_clamps_out_of_range_and_guards(spark):
    """Values below lo / above the top band clamp into the edge bands
    (identical expression both engines); band-count guard raises."""
    import pytest

    from flink_example_spark.operators.timeseries import (
        cox_fit_banded,
        cox_fit_banded_oracle,
    )

    rows = [(5 + k % 7, 1, v) for k, v in enumerate((-100, -1, 0, 39, 40, 999))]
    u = spark.createDataFrame(rows, "dur long, d long, x long")
    got = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_banded(
            u, "dur", "d", "x", lo=0, width=10, n_bands=4
        ).collect()
    }
    assert got["__n_band_0"] == 3 and got["__n_band_3"] == 3
    with pytest.raises(ValueError):
        cox_fit_banded(u, "dur", "d", "x", lo=0, width=10, n_bands=1)
    with pytest.raises(ValueError):
        cox_fit_banded_oracle("t", "dur", "d", "x", lo=0, width=10, n_bands=99)


def test_cox_adj_deconfounds_the_dose_effect(spark):
    """A confounded design (engaged users have HIGH dose AND long
    survival) where the adjusted fit must recover a positive dose
    effect and a negative engagement effect; oracle bit-equal; guard
    raises on an over-wide stratum space."""
    import duckdb
    import pandas as pd
    import pytest

    from flink_example_spark.operators.timeseries import (
        cox_fit_banded_adj,
        cox_fit_banded_adj_oracle,
    )

    rows = []
    for z in (0, 1):
        for dose_step in range(8):
            dose = dose_step * 10 + z * 5
            for k in range(12):
                base = 40 if z else 16
                dur = max(1, base - 2 * dose_step + ((k * 7) % 5))
                d = 1 if (k % 4) != 0 else 0
                rows.append((dur, d, dose, z))
    u = spark.createDataFrame(rows, "dur long, d long, dose long, z long")
    got = {
        r["feature"]: r["w_micro"]
        for r in cox_fit_banded_adj(
            u, "dur", "d", "dose", lo=0, width=10, z_cols=["z"], n_bands=8
        ).collect()
    }
    assert got["beta_dose"] > 150_000
    assert got["beta_z"] < -400_000
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["dur", "d", "dose", "z"]))
    ora = dict(
        con.execute(
            cox_fit_banded_adj_oracle(
                "SELECT * FROM t", "dur", "d", "dose",
                lo=0, width=10, z_sqls=[("z", "z")], n_bands=8,
            )
        ).fetchall()
    )
    assert got == ora
    with pytest.raises(ValueError):
        cox_fit_banded_adj(
            u, "dur", "d", "dose", lo=0, width=10,
            z_cols=["z", "z", "z"], n_bands=8,  # 64 strata > 32
        )


def test_cox_family_duration_scale_invariance(spark):
    """Cox partial likelihood depends only on the ORDER of event times:
    rescaling every duration by a constant leaves the risk sets, hence
    every beta trajectory, exactly unchanged — across all three
    round-9 estimators."""
    from flink_example_spark.operators.timeseries import (
        cox_fit_banded,
        cox_fit_banded_adj,
        cox_fit_multi,
    )

    rows = []
    for z in (0, 1):
        for k in range(35):
            dur = 2 + ((k * 11 + 3 * z) % 17) * (2 - z)
            d = 1 if (k % 3) != 0 else 0
            dose = (k * 9) % 60
            rows.append((dur, d, z, dose))
    u1 = spark.createDataFrame(rows, "dur long, d long, z long, dose long")
    u7 = u1.selectExpr("dur * 7 AS dur", "d", "z", "dose")

    def tall(df):
        return sorted((r["feature"], r["w_micro"]) for r in df.collect())

    assert tall(cox_fit_multi(u1, "dur", "d", ["z"])) == tall(
        cox_fit_multi(u7, "dur", "d", ["z"])
    )
    assert tall(
        cox_fit_banded(u1, "dur", "d", "dose", lo=0, width=10, n_bands=6)
    ) == tall(cox_fit_banded(u7, "dur", "d", "dose", lo=0, width=10, n_bands=6))
    assert tall(
        cox_fit_banded_adj(
            u1, "dur", "d", "dose", lo=0, width=10, z_cols=["z"], n_bands=6
        )
    ) == tall(
        cox_fit_banded_adj(
            u7, "dur", "d", "dose", lo=0, width=10, z_cols=["z"], n_bands=6
        )
    )


def test_cox_family_zero_events_fixed_point_matches_oracle(spark):
    """Degenerate input with ZERO events empties the risk relation: the
    Spark side coerces the NULL gradient to 0 so every beta stays at
    the 0 fixed point. The oracles must agree — their gradient CTEs
    wrap the empty-relation SUM in COALESCE(.., 0) rather than
    propagating NULL through the beta chain (ADVICE r9)."""
    import duckdb
    import pandas as pd

    from flink_example_spark.operators.timeseries import (
        cox_fit,
        cox_fit_banded,
        cox_fit_banded_adj,
        cox_fit_banded_adj_oracle,
        cox_fit_banded_oracle,
        cox_fit_multi,
        cox_fit_multi_oracle,
        cox_fit_oracle,
    )

    rows = [
        (2 + (k % 9), 0, k % 2, (k * 7) % 40, (k // 2) % 2)
        for k in range(30)
    ]
    u = spark.createDataFrame(
        rows, "dur long, d long, x long, dose long, z long"
    )
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(rows, columns=["dur", "d", "x", "dose", "z"])
    )

    def tall(df):
        return sorted((r["feature"], r["w_micro"]) for r in df.collect())

    def ora(sql):
        return sorted((f, int(w)) for f, w in con.execute(sql).fetchall())

    pairs = [
        (
            cox_fit(u, "dur", "d", "x", n_steps=4),
            cox_fit_oracle("SELECT * FROM t", "dur", "d", "x", n_steps=4),
        ),
        (
            cox_fit_multi(u, "dur", "d", ["x", "z"], n_steps=4),
            cox_fit_multi_oracle(
                "SELECT * FROM t", "dur", "d",
                [("x", "x"), ("z", "z")], n_steps=4,
            ),
        ),
        (
            cox_fit_banded(
                u, "dur", "d", "dose", lo=0, width=10, n_bands=4, n_steps=4
            ),
            cox_fit_banded_oracle(
                "SELECT * FROM t", "dur", "d", "dose",
                lo=0, width=10, n_bands=4, n_steps=4,
            ),
        ),
        (
            cox_fit_banded_adj(
                u, "dur", "d", "dose", lo=0, width=10,
                z_cols=["z"], n_bands=4, n_steps=4,
            ),
            cox_fit_banded_adj_oracle(
                "SELECT * FROM t", "dur", "d", "dose",
                lo=0, width=10, z_sqls=[("z", "z")],
                n_bands=4, n_steps=4,
            ),
        ),
    ]
    for spark_df, oracle_sql in pairs:
        got, exp = tall(spark_df), ora(oracle_sql)
        assert got == exp
        betas = {f: w for f, w in got if f.startswith("beta")}
        assert betas and all(w == 0 for w in betas.values())
        assert dict(got)["__n_events"] == 0


def test_rmst_planted_churn_curve(spark):
    """Planted cohort: 20 users churn on day 2 (observed — silent well
    before the corpus end), 10 survive to the boundary (censored).
    The hazard at t=2 is 20/30, S drops to the exp(-2/3) table cell,
    and RMST(10) = 2 full days + 8 days at that S — exactly, in both
    engines. Also: S is capped at exactly 1e6 before the first event
    (midpoint-table lesson) so RMST can never exceed tau."""
    import duckdb
    import pandas as pd

    from flink_example_spark.operators.ml import _exp_bucket_sql  # noqa: F401
    from flink_example_spark.operators.timeseries import (
        rmst_table,
        rmst_table_oracle,
    )
    from flink_example_spark.operators.timeseries import _exp_val

    day = 86_400
    rows = []
    for u in range(20):  # churners: first day 0, last day 2
        rows.append((u, 0))
        rows.append((u, 2 * day))
    for u in range(20, 30):  # survivors: active at the corpus end
        rows.append((u, 0))
        rows.append((u, 30 * day))
    df = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, secs long"
    ).selectExpr("user_id", "timestamp_seconds(secs) AS ts")
    out = sorted(
        tuple(r)
        for r in rmst_table(df, "user_id", "ts", 7, tau_days=10).collect()
    )
    by_t = {r[0]: r for r in out}
    assert by_t[2][2] == 20 and by_t[2][1] == 30  # d=20 of n_risk=30
    s2 = by_t[2][4]
    assert s2 == min(_exp_val(-((20 * 1_000_000) // 30)), 1_000_000)
    assert by_t[30][4] <= s2
    # RMST(10): [0,2) at S=1 contributes 2e6; [2,10) contributes 8*s2
    assert by_t[2][5] == 2_000_000 + 8 * s2
    rmst = max(r[5] for r in out)
    assert rmst == 2_000_000 + 8 * s2  # t=30 row adds nothing past tau
    assert rmst <= 10_000_000

    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["user_id", "secs"])
    con.register("raw", pdf)
    con.execute(
        "CREATE VIEW ue AS SELECT user_id,"
        " to_timestamp(secs)::TIMESTAMP AS ts FROM raw"
    )
    ora = sorted(
        tuple(r)
        for r in con.execute(
            rmst_table_oracle("ue", "user_id", "ts", 7, tau_days=10)
        ).fetchall()
    )
    assert out == ora


def test_rmst_by_arm_planted_contrast(spark):
    """Arm 1 churns on day 1, arm 0 on day 5 (both observed under the
    shared boundary held open by a censored straggler per arm): arm 0's
    RMST is strictly larger, the contrast row (NULL arm) carries exactly
    rmst(1) - rmst(0) < 0, and both engines agree bit-for-bit."""
    import duckdb
    import pandas as pd

    from flink_example_spark.operators.timeseries import (
        rmst_by_arm,
        rmst_by_arm_oracle,
    )

    day = 86_400
    rows = []
    for u in range(12):  # arm 1 churners: lifetime 1 day
        rows += [(u, 0, 1), (u, 1 * day, 1)]
    for u in range(100, 112):  # arm 0 churners: lifetime 5 days
        rows += [(u, 0, 0), (u, 5 * day, 0)]
    rows += [(50, 0, 1), (50, 30 * day, 1)]   # stragglers keep the
    rows += [(51, 0, 0), (51, 30 * day, 0)]   # boundary at day 30
    df = spark.createDataFrame(
        rows, "user_id long, secs long, arm long"
    ).selectExpr("user_id", "timestamp_seconds(secs) AS ts", "arm")
    got = sorted(
        (tuple(r) for r in rmst_by_arm(df, "user_id", "ts", "arm",
                                       7, tau_days=10).collect()),
        key=lambda t: (t[0] is None, t),
    )
    by = {r[0]: r for r in got}
    assert by[0][1] == 13 and by[1][1] == 13
    assert by[0][3] > by[1][3]
    assert by[None][3] == by[1][3] - by[0][3] < 0
    assert by[None][1] == 26

    con = duckdb.connect()
    con.register("raw3", pd.DataFrame(rows, columns=["user_id", "secs", "arm"]))
    con.execute("CREATE VIEW ue3 AS SELECT user_id,"
                " to_timestamp(secs)::TIMESTAMP AS ts, arm FROM raw3")
    ora = sorted(
        (tuple(r) for r in con.execute(
            rmst_by_arm_oracle("ue3", "user_id", "ts", "arm", 7, 10)
        ).fetchall()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == ora


def test_holt_driver_matches_recursive_cte(spark):
    """The r14 driver-side Holt port must be BIT-equal to the in-engine
    recursive CTE it replaced — including negative daily sums, where the
    trunc-division semantics (Spark ``div``) diverge from Python ``//``
    (the _tdiv sign-magnitude form covers it)."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import (
        holt_forecast,
        holt_forecast_recursive,
    )

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    rows = [
        (k, ts(d), v)
        for k in ("a", "b")
        for d, v in enumerate(
            [3.17, -8.5, 0.004, 12.0, -0.25, 7.77, -13.31, 2.0, 0.0, -5.5]
        )
    ] + [("c", ts(0), -41.02)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {r["key"]: r for r in holt_forecast(df).collect()}
    want = {r["key"]: r for r in holt_forecast_recursive(df).collect()}
    assert set(got) == set(want) == {"a", "b", "c"}
    for k in want:
        assert tuple(got[k]) == tuple(want[k])


def test_cox_forced_distributed_matches(spark):
    """r15 crossover: with SPARK_GRAFT_COX_LOCAL_MAX=0 every cox variant
    runs its n_steps score sums as in-engine aggregations over the
    checkpointed at-risk relation; results must be BIT-identical to the
    default driver-collected path (same integer expression both sides)."""
    import os

    from flink_example_spark.operators.timeseries import (
        cox_fit,
        cox_fit_banded,
        cox_fit_banded_adj,
        cox_fit_multi,
    )

    rows = [
        (1 + (i * 7) % 23, 1 if i % 3 else 0, i % 2, (i >> 1) % 2, (i * 5) % 40)
        for i in range(120)
    ]
    u = spark.createDataFrame(rows, "dur long, d long, x long, z long, c long")

    def run_all():
        return [
            sorted(tuple(r) for r in cox_fit(u, "dur", "d", "x").collect()),
            sorted(tuple(r) for r in cox_fit_multi(u, "dur", "d", ["x", "z"]).collect()),
            sorted(
                tuple(r)
                for r in cox_fit_banded(u, "dur", "d", "c", lo=0, width=10).collect()
            ),
            sorted(
                tuple(r)
                for r in cox_fit_banded_adj(
                    u, "dur", "d", "c", lo=0, width=10, z_cols=["z"], n_bands=4
                ).collect()
            ),
        ]

    local = run_all()
    os.environ["SPARK_GRAFT_COX_LOCAL_MAX"] = "0"
    try:
        dist = run_all()
    finally:
        del os.environ["SPARK_GRAFT_COX_LOCAL_MAX"]
    assert local == dist
    # the fit found SOMETHING (betas present) — guards against a silently
    # empty risk relation making the equality vacuous
    assert any("beta" == f for f, _ in local[0])


def test_cox_scores_large_risk_set_matches_exact(spark):
    """An at-risk count of 1e7 with covariate values up to 20 pushes the
    score numerator ``num`` to ~2e13, so ``num * 1e6`` no longer fits in
    BIGINT while ``den * 1e6`` still does. The in-engine score must equal
    the driver's arbitrary-precision sum."""
    from flink_example_spark.operators.timeseries import _cox_scores

    de, n = (5, 2), (10_000_000, 2_000_000)
    ev_s = [100_000, 250_000]
    vals_list = [[20, 3], [0, 1], [1, 1]]
    risk = spark.createDataFrame([(*de, *n)], "de0 long, de1 long, n0 long, n1 long")
    exact = _cox_scores([(de, n)], 2, ev_s, vals_list)
    assert _cox_scores(risk, 2, ev_s, vals_list) == exact
    assert exact[2] == 0  # every stratum carries the same value: no score


def test_holt_forced_recursive_gate(spark):
    """r15 size gate: with SPARK_GRAFT_HOLT_LOCAL_MAX=0 holt_forecast must
    route to the in-engine recursive CTE and return the same rows as the
    driver fold (the r14 witness already pins driver==recursive)."""
    import os
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import holt_forecast

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    rows = [
        (k, ts(d), v)
        for k in ("a", "b")
        for d, v in enumerate([3.17, -8.5, 0.004, 12.0, -0.25])
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    local = sorted(tuple(r) for r in holt_forecast(df).collect())
    os.environ["SPARK_GRAFT_HOLT_LOCAL_MAX"] = "0"
    try:
        rec = sorted(tuple(r) for r in holt_forecast(df).collect())
    finally:
        del os.environ["SPARK_GRAFT_HOLT_LOCAL_MAX"]
    assert local == rec and len(local) == 2


def test_holt_null_and_nonstring_keys(spark):
    """The driver fold must keep schema parity with the recursive form for
    a non-string key_col, and a NULL key must fold as its own group (not
    raise in the sort) — r15 ADVICE fix."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.timeseries import (
        holt_forecast,
        holt_forecast_recursive,
    )

    def ts(d):
        return datetime.fromtimestamp(86400 * d, tz=timezone.utc)

    rows = [(7, ts(0), 5.0), (7, ts(1), 9.5), (None, ts(0), -3.25), (None, ts(1), 4.0)]
    df = spark.createDataFrame(rows, "event_type long, ts timestamp, value double")
    got = holt_forecast(df, key_col="event_type")
    want = holt_forecast_recursive(df, key_col="event_type")
    assert got.schema["key"].dataType == want.schema["key"].dataType
    gk = {r["key"]: tuple(r) for r in got.collect()}
    wk = {r["key"]: tuple(r) for r in want.collect()}
    assert gk == wk and set(gk) == {7, None}
