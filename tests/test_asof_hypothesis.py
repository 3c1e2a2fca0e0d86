"""Hypothesis property tests for the as-of join (SURVEY.md §5).

Spark jobs are slow per example, so examples are few but each is a full
randomized relation; the pure-Python model from test_asof_properties is the
oracle — it shares no code path with the Spark plan.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_example_spark.operators.asof import asof_join
from tests.test_asof_properties import BASE, PROBE_SCHEMA, VERSION_SCHEMA, model

keys = st.sampled_from(["a", "b", "c"])
minutes = st.integers(min_value=0, max_value=120)

versions_strategy = st.lists(
    st.tuples(keys, minutes, st.integers(min_value=0, max_value=999)),
    min_size=0,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)
probes_strategy = st.lists(st.tuples(keys, minutes), min_size=1, max_size=15)


@pytest.mark.usefixtures("spark")
@given(vs=versions_strategy, ps=probes_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_asof_join_matches_model(spark, vs, ps):
    versions = [(k, BASE + timedelta(minutes=m), v) for k, m, v in vs]
    probes = [(k, i, BASE + timedelta(minutes=m)) for i, (k, m) in enumerate(ps)]
    vdf = spark.createDataFrame(versions, VERSION_SCHEMA) if versions else spark.createDataFrame([], VERSION_SCHEMA)
    pdf = spark.createDataFrame(probes, PROBE_SCHEMA)
    got = {r["pid"]: r["v"] for r in asof_join(pdf, vdf, on="k", probe_time="t").collect()}
    assert got == model(versions, probes)
