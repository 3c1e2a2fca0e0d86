"""Property tests for the as-of join (SURVEY.md §5).

Invariants from the reference's core thesis (App.java:22-35):
- point-in-time correctness: result for (key, t) = latest version <= t
- no temporal leakage: versions arriving after t never change the row at t
- inclusive boundary: a version AT the probe instant is visible
- LEFT null-extension when no version <= t exists
The join must agree with a pure-Python reference model.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from flink_example_spark.operators.asof import asof_join

BASE = datetime(2024, 1, 1)

VERSION_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("_change_time", TimestampNTZType(), False),
        StructField("v", LongType(), True),
    ]
)
PROBE_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("pid", IntegerType(), False),
        StructField("t", TimestampNTZType(), False),
    ]
)


def gen(seed: int, n_keys=4, n_versions=60, n_probes=40):
    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(n_keys)]
    seen = set()
    versions = []
    while len(versions) < n_versions:
        k, m = rng.choice(keys), rng.randrange(0, 500)
        if (k, m) in seen:
            continue
        seen.add((k, m))
        versions.append((k, BASE + timedelta(minutes=m), rng.randrange(0, 1000)))
    probes = [
        (rng.choice(keys), i, BASE + timedelta(minutes=rng.randrange(0, 500)))
        for i in range(n_probes)
    ]
    return versions, probes


def model(versions, probes):
    """Pure-Python as-of reference: latest version at-or-before probe time."""
    out = {}
    for k, pid, t in probes:
        best = None
        for vk, vt, vv in versions:
            if vk == k and vt <= t and (best is None or vt > best[0]):
                best = (vt, vv)
        out[pid] = best[1] if best else None
    return out


@pytest.mark.parametrize("seed", [1, 2])
def test_asof_matches_model(spark, seed):
    versions, probes = gen(seed)
    vdf = spark.createDataFrame(versions, VERSION_SCHEMA)
    pdf = spark.createDataFrame(probes, PROBE_SCHEMA)
    got = {
        r["pid"]: r["v"]
        for r in asof_join(pdf, vdf, on="k", probe_time="t").collect()
    }
    assert got == model(versions, probes)


def test_no_temporal_leakage(spark):
    """Appending versions later than every probe must not change any result."""
    versions, probes = gen(7)
    max_t = max(t for _, _, t in probes)
    future = [(k, max_t + timedelta(minutes=i + 1), 999_999) for i, k in enumerate("k0 k1 k2 k3".split())]
    vdf = spark.createDataFrame(versions, VERSION_SCHEMA)
    vdf2 = spark.createDataFrame(versions + future, VERSION_SCHEMA)
    pdf = spark.createDataFrame(probes, PROBE_SCHEMA)
    before = sorted(
        asof_join(pdf, vdf, on="k", probe_time="t").collect(),
        key=lambda r: r["pid"],
    )
    after = sorted(
        asof_join(pdf, vdf2, on="k", probe_time="t").collect(),
        key=lambda r: r["pid"],
    )
    assert before == after


def test_inclusive_boundary_and_null_extension(spark):
    t0 = BASE
    vdf = spark.createDataFrame([("a", t0, 42)], VERSION_SCHEMA)
    pdf = spark.createDataFrame(
        [("a", 1, t0), ("a", 2, t0 - timedelta(seconds=1)), ("b", 3, t0)], PROBE_SCHEMA
    )
    got = {
        r["pid"]: r["v"]
        for r in asof_join(pdf, vdf, on="k", probe_time="t").collect()
    }
    # probe at exactly the version instant sees it (inclusive <=)
    assert got == {1: 42, 2: None, 3: None}
    inner = asof_join(pdf, vdf, on="k", probe_time="t", how="inner")
    assert {r["pid"] for r in inner.collect()} == {1}


def test_duplicate_version_rows_tie_break_deterministically(spark):
    """Duplicate (key, version_time) rows: in both directions the winner is
    the duplicate with the largest xxhash64 of its value struct, however
    the versions are partitioned and on every run."""
    from pyspark.sql import functions as F

    dups = [("a", BASE, v) for v in range(1, 6)]
    versions = spark.createDataFrame(
        [("a", BASE - timedelta(hours=1), 100), *dups, ("a", BASE + timedelta(hours=1), 200)],
        VERSION_SCHEMA,
    ).repartition(3)
    winner = (
        spark.createDataFrame(dups, VERSION_SCHEMA)
        .orderBy(F.xxhash64(F.struct("v")).desc())
        .first()["v"]
    )
    cases = {"backward": BASE + timedelta(minutes=30), "forward": BASE - timedelta(minutes=30)}
    for direction, t in cases.items():
        probes = spark.createDataFrame([("a", 0, t)], PROBE_SCHEMA)
        for _ in range(3):
            rows = asof_join(
                probes, versions, on="k", probe_time="t", direction=direction
            ).collect()
            assert [r["v"] for r in rows] == [winner], direction


def test_forward_direction_first_at_or_after(spark):
    """direction='forward': FIRST version at-or-after the probe instant;
    inclusive >=; LEFT null-extension when no later version exists."""
    t0 = BASE + timedelta(hours=1)
    versions = spark.createDataFrame(
        [("a", t0, 10), ("a", t0 + timedelta(hours=2), 20), ("b", t0, 7)],
        VERSION_SCHEMA,
    )
    probes = spark.createDataFrame(
        [
            ("a", 1, t0),                          # exact instant → inclusive
            ("a", 2, t0 + timedelta(minutes=30)),  # between → next version
            ("a", 3, t0 + timedelta(hours=3)),     # after all → NULL
            ("b", 4, t0 - timedelta(hours=1)),     # before all → first
        ],
        PROBE_SCHEMA,
    )
    got = {
        r["pid"]: r["v"]
        for r in asof_join(
            probes, versions, on="k", probe_time="t", direction="forward"
        ).collect()
    }
    assert got == {1: 10, 2: 20, 3: None, 4: 7}
    inner = asof_join(
        probes, versions, on="k", probe_time="t", how="inner", direction="forward"
    )
    assert {r["pid"] for r in inner.collect()} == {1, 2, 4}


def test_forward_random_model_agreement(spark):
    """Randomized: the join must match a pure-Python forward model."""
    rng = random.Random(7)
    versions = [
        (k, BASE + timedelta(minutes=rng.randrange(0, 600)), rng.randrange(100))
        for k in "abc" for _ in range(20)
    ]
    # unique (k, time) to keep the model unambiguous
    seen, uniq = set(), []
    for k, t, v in versions:
        if (k, t) not in seen:
            seen.add((k, t))
            uniq.append((k, t, v))
    probes = [
        (k, i, BASE + timedelta(minutes=rng.randrange(-30, 660)))
        for i, k in enumerate(rng.choices("abcd", k=40))
    ]
    vdf = spark.createDataFrame(uniq, VERSION_SCHEMA)
    pdf = spark.createDataFrame(probes, PROBE_SCHEMA)

    def model(k, t):
        cand = [(vt, v) for (vk, vt, v) in uniq if vk == k and vt >= t]
        return min(cand)[1] if cand else None

    expected = {pid: model(k, t) for (k, pid, t) in probes}
    got = {
        r["pid"]: r["v"]
        for r in asof_join(pdf, vdf, on="k", probe_time="t", direction="forward").collect()
    }
    assert got == expected


def test_tolerance_bounds_staleness(spark):
    """tolerance='0 seconds' keeps only exact-instant matches; a tolerance
    covering the span equals no tolerance; inner drops out-of-bound rows."""
    from datetime import timedelta

    from flink_example_spark.operators.asof import asof_join

    versions = [("a", BASE, 1), ("a", BASE + timedelta(minutes=10), 2)]
    probes = [
        ("a", 0, BASE),                          # exact hit on v1
        ("a", 1, BASE + timedelta(minutes=5)),   # 5 min stale v1
        ("a", 2, BASE + timedelta(minutes=30)),  # 20 min stale v2
        ("b", 3, BASE + timedelta(minutes=1)),   # no versions at all
    ]
    vdf = spark.createDataFrame(versions, VERSION_SCHEMA)
    pdf = spark.createDataFrame(probes, PROBE_SCHEMA)
    got = {
        r["pid"]: r["v"]
        for r in asof_join(pdf, vdf, on="k", probe_time="t", tolerance="6 minutes").collect()
    }
    assert got == {0: 1, 1: 1, 2: None, 3: None}
    exact = {
        r["pid"]: r["v"]
        for r in asof_join(pdf, vdf, on="k", probe_time="t", tolerance="0 seconds").collect()
    }
    assert exact == {0: 1, 1: None, 2: None, 3: None}
    inner = asof_join(
        pdf, vdf, on="k", probe_time="t", how="inner", tolerance="6 minutes"
    )
    assert {r["pid"] for r in inner.collect()} == {0, 1}


def test_asof_nearest_picks_closer_side_and_tie_backward(spark):
    from datetime import datetime, timezone

    from pyspark.sql import functions as F  # noqa: F401

    from flink_example_spark.operators.asof import asof_nearest

    def ts(s):
        return datetime.fromtimestamp(1000 + s, tz=timezone.utc)

    versions = spark.createDataFrame(
        [("u", ts(0), 10.0), ("u", ts(100), 20.0)],
        "_entity string, _change_time timestamp, loss_value double",
    )
    probes = spark.createDataFrame(
        [
            (1, "u", ts(10)),   # closer to t=0 -> backward, 10.0
            (2, "u", ts(90)),   # closer to t=100 -> forward, 20.0
            (3, "u", ts(50)),   # exact tie -> backward wins
            (4, "v", ts(50)),   # unknown entity -> unmatched
        ],
        "event_id long, _entity string, _probe_time timestamp",
    )
    out = {
        r["event_id"]: r
        for r in asof_nearest(
            probes, versions, on="_entity",
            probe_time="_probe_time", probe_id="event_id",
        ).collect()
    }
    assert (out[1]["loss_value"], out[1]["_direction"]) == (10.0, "backward")
    assert (out[2]["loss_value"], out[2]["_direction"]) == (20.0, "forward")
    assert (out[3]["loss_value"], out[3]["_direction"]) == (10.0, "backward")
    assert out[4]["loss_value"] is None and out[4]["_direction"] is None
