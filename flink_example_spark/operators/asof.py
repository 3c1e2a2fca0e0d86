"""Event-time as-of (temporal) join — the one operator Spark SQL lacks.

Reference semantics (J1/J2, App.java:200-233): for each probe row, attach the
version of the matching key whose ``_change_time`` is the **latest at or
before** (inclusive ``<=``) the probe's time column; LEFT ⇒ NULL-extend when
no such version exists. Inclusivity is load-bearing: the golden output
(App.java:80-81) requires the version produced *at* the probe instant to be
visible (Bob@03:46 sees loss_duration 11, not 3 — SURVEY.md §0).

Unlike Flink, the probe-time column is a plain parameter, so joining as-of a
*different* time column (J2, App.java:228-233) needs none of the
watermark-reassignment machinery (App.java:207-225).

One plan for every direction (SURVEY.md §7.3): tag version and probe rows,
union, shuffle once on the key, and run one window per direction the caller
needs — backward is the cumulative ``last(value) IGNORE NULLS`` ordered by
(time, tag), forward the ``first`` from the current row on — then keep the
probe rows. Bounded memory per partition — the 100 TB-scale plan. Probes at
a version's exact timestamp sort after it (tag 1 > 0) ⇒ inclusive ``<=``.
``tolerance`` and ``asof_nearest`` read the matched version's time from the
value struct, so they need no second join. A version with a NULL key or a
NULL time matches nothing, as in an equi-join. The pure-Python model in
tests/test_asof_properties.py and the DuckDB twins in ``__spark_entry__``
are its oracles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TIME, _TAG, _VAL = "__asof_t", "__asof_tag", "__asof_v"
_BACK, _FWD = "__asof_b", "__asof_f"


def _as_list(x: str | Sequence[str]) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def asof_join(
    probes: DataFrame,
    versions: DataFrame,
    on: str | Sequence[str],
    probe_time: str,
    version_time: str = "_change_time",
    how: str = "left",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join ``probes`` against the version history ``versions``.

    Output columns: all of ``probes``' columns, then ``versions``' value
    columns (everything but the key and ``version_time``). A probe whose
    key is NULL matches nothing.

    ``tolerance``: optional maximum staleness as a SQL interval string
    (e.g. ``"7 days"``) — pandas ``merge_asof(tolerance=...)`` semantics.
    A match further than ``tolerance`` from the probe instant is treated
    as no match (values null under ``how='left'``, row dropped under
    ``how='inner'``). Works in both directions: the match's time rides in
    the value struct and one CASE applies the bound.

    Duplicate ``(key, version_time)`` version rows: the tie breaks
    deterministically — the duplicate with the largest ``xxhash64`` of its
    value struct wins, in both directions and across runs.
    ``version_history`` outputs never contain such duplicates.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    keys = _as_list(on)
    unioned, vcols = _union(
        probes, versions, keys, probe_time, version_time, timed=tolerance is not None
    )
    out = unioned.withColumn(_VAL, _match(keys, direction)).filter(F.col(_TAG) == 1)
    if tolerance is not None:
        if direction == "backward":
            within = F.col(f"{_VAL}.{_TIME}") >= F.expr(f"{_TIME} - INTERVAL {tolerance}")
        else:
            within = F.col(f"{_VAL}.{_TIME}") <= F.expr(f"{_TIME} + INTERVAL {tolerance}")
        out = out.withColumn(_VAL, F.when(within, F.col(_VAL)))
    if how == "inner":
        out = out.filter(F.col(_VAL).isNotNull())
    return out.select(
        *[F.col(f"__p_{c}").alias(c) for c in probes.columns],
        *[F.col(f"{_VAL}.{c}").alias(c) for c in vcols],
    )


def _union(
    probes: DataFrame,
    versions: DataFrame,
    keys: list[str],
    probe_time: str,
    version_time: str,
    timed: bool,
) -> tuple[DataFrame, list[str]]:
    """Validate the inputs and tag-and-union them on ``(keys, _TIME)``.

    Returns ``(unioned, vcols)``. The value columns are packed into one
    struct, so a legitimately-NULL value inside a version can't make
    ``last(..., ignorenulls)`` skip back to an older version; ``timed``
    appends the version's time to it as the field ``_TIME``."""
    if version_time in probes.columns:
        raise ValueError(
            f"version_time column {version_time!r} collides with a probe column; rename one"
        )
    vcols = [c for c in versions.columns if c not in (*keys, version_time)]
    clash = set(vcols) & set(probes.columns)
    if clash:
        raise ValueError(f"value columns {sorted(clash)} collide with probe columns")
    pcols = probes.columns
    # NULL-time versions are meaningless ("valid since unknown"; under
    # asc_nulls_first they would sort before every probe), and a NULL key
    # equals no key.
    live = F.col(version_time).isNotNull()
    for k in keys:
        live &= F.col(k).isNotNull()
    value = [F.col(c) for c in vcols]
    if timed:
        value.append(F.col(version_time).alias(_TIME))
    v_part = versions.filter(live).select(
        *keys,
        F.col(version_time).alias(_TIME),
        F.lit(0).alias(_TAG),
        F.struct(*value).alias(_VAL),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(f"__p_{c}") for c in pcols],
    )
    p_part = probes.select(
        *keys,
        F.col(probe_time).alias(_TIME),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(v_part.schema[_VAL].dataType).alias(_VAL),
        *[F.col(c).alias(f"__p_{c}") for c in pcols],
    )
    return v_part.unionByName(p_part), vcols


def _match(keys: list[str], direction: str) -> Column:
    """The version each union row matches in ``direction``.

    Third sort key: deterministic winner among duplicate (key, time) version
    rows — both directions pick the max value-hash. No-op for unique
    histories.

    backward: versions sort BEFORE probes at the same instant (tag 0 < 1)
    and each probe takes the cumulative last version ⇒ inclusive <=.
    forward: probes take the FIRST version at-or-after their instant, so
    probes must sort before versions at the same instant — order _TAG and
    the hash descending, frame currentRow→following, first(ignorenulls)."""
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(_TIME).asc_nulls_first(), F.col(_TAG), F.xxhash64(F.col(_VAL)))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last(_VAL, ignorenulls=True).over(w)
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col(_TIME).asc_nulls_last(),
            F.col(_TAG).desc(),
            F.xxhash64(F.col(_VAL)).desc(),
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return F.first(_VAL, ignorenulls=True).over(w)


def asof_nearest(
    probes: DataFrame,
    versions: DataFrame,
    on: str | Sequence[str],
    probe_time: str,
    version_time: str = "_change_time",
) -> DataFrame:
    """Nearest-in-time as-of join (pandas ``merge_asof(direction=
    'nearest')``) — sensor-fusion semantics: each probe takes whichever
    version is CLOSEST in event time, before or after. Ties (equal
    distances) resolve to the backward match (the earlier version —
    deterministic, and the convention that never peeks later than it
    must). A probe whose key is NULL matches nothing.

    One union, both directional windows over it (one shuffle, no join):
    the matched version's time rides in the value struct, and one CASE per
    probe picks the smaller |delta|.

    Output: probes' columns + versions' value columns +
    ``_matched_time`` + ``_direction`` ('backward'/'forward', NULL when
    unmatched).
    """
    keys = _as_list(on)
    unioned, vcols = _union(probes, versions, keys, probe_time, version_time, timed=True)
    both = unioned.select(
        "*", _match(keys, "backward").alias(_BACK), _match(keys, "forward").alias(_FWD)
    ).filter(F.col(_TAG) == 1)
    mb = F.col(f"{_BACK}.{_TIME}")
    mf = F.col(f"{_FWD}.{_TIME}")
    pt = F.unix_micros(F.col(_TIME).cast("timestamp"))
    d_b = pt - F.unix_micros(mb.cast("timestamp"))
    d_f = F.unix_micros(mf.cast("timestamp")) - pt
    use_b = mb.isNotNull() & (mf.isNull() | (d_b <= d_f))
    picked = [
        F.when(use_b, F.col(f"{_BACK}.{c}")).otherwise(F.col(f"{_FWD}.{c}")).alias(c)
        for c in vcols
    ]
    return both.select(
        *[F.col(f"__p_{c}").alias(c) for c in probes.columns],
        *picked,
        F.when(use_b, mb).otherwise(mf).alias("_matched_time"),
        F.when(use_b, F.lit("backward"))
        .when(mf.isNotNull(), F.lit("forward"))
        .alias("_direction"),
    )
