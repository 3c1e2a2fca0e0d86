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

One plan (SURVEY.md §7.3): tag version and probe rows, union, per-key
cumulative ``last(value) IGNORE NULLS`` ordered by (time, tag), keep probe
rows. ONE shuffle + per-key sort, bounded memory per partition — the
100 TB-scale plan. Probes at a version's exact timestamp sort after it
(tag 1 > 0) ⇒ inclusive ``<=``. The pure-Python model in
tests/test_asof_properties.py and the DuckDB twins in ``__spark_entry__``
are its oracles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TIME, _TAG, _VAL = "__asof_t", "__asof_tag", "__asof_v"


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
    columns (everything but the key and ``version_time``).

    ``tolerance``: optional maximum staleness as a SQL interval string
    (e.g. ``"7 days"``) — pandas ``merge_asof(tolerance=...)`` semantics.
    A match further than ``tolerance`` from the probe instant is treated
    as no match (values null under ``how='left'``, row dropped under
    ``how='inner'``). Works in both directions: the match time rides along
    as an extra value column and the bound is applied as a post-filter, so
    the core plan stays untouched.

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
    if version_time in probes.columns:
        raise ValueError(
            f"version_time column {version_time!r} collides with a probe column; rename one"
        )
    vcols = [c for c in versions.columns if c not in (*keys, version_time)]
    clash = set(vcols) & set(probes.columns)
    if clash:
        raise ValueError(f"value columns {sorted(clash)} collide with probe columns")
    if tolerance is not None:
        matched = "__asof_matched_time"
        if matched in versions.columns or matched in probes.columns:
            raise ValueError(
                f"column {matched!r} is reserved by the tolerance path; rename it"
            )
        # the when() wrapper forces nullable=True — unmatched LEFT probes
        # carry null here even when version_time itself is non-nullable
        inner = asof_join(
            probes,
            versions.withColumn(
                matched, F.when(F.col(version_time).isNotNull(), F.col(version_time))
            ),
            on=on,
            probe_time=probe_time,
            version_time=version_time,
            how="left",
            direction=direction,
        )
        if direction == "backward":
            keep = F.col(matched) >= F.expr(f"`{probe_time}` - INTERVAL {tolerance}")
        else:
            keep = F.col(matched) <= F.expr(f"`{probe_time}` + INTERVAL {tolerance}")
        keep = F.col(matched).isNotNull() & keep
        out = inner.select(
            *probes.columns,
            *[F.when(keep, F.col(c)).otherwise(F.lit(None)).alias(c) for c in vcols],
            keep.alias("__asof_keep"),
        )
        if how == "inner":
            out = out.filter(F.col("__asof_keep"))
        return out.drop("__asof_keep")
    return _asof_union(probes, versions, keys, probe_time, version_time, vcols, how, direction)


def _asof_union(probes, versions, keys, probe_time, version_time, vcols, how, direction):
    # Pack value columns into one struct so a legitimately-NULL value inside a
    # version can't make last(..., ignorenulls) skip back to an older version.
    pcols = probes.columns
    # NULL-time versions are meaningless ("valid since unknown"); drop them,
    # or asc_nulls_first would sort them before every probe.
    versions = versions.filter(F.col(version_time).isNotNull())
    v_part = versions.select(
        *keys,
        F.col(version_time).alias(_TIME),
        F.lit(0).alias(_TAG),
        F.struct(*[F.col(c) for c in vcols]).alias(_VAL),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(f"__p_{c}") for c in pcols],
    )
    p_part = probes.select(
        *keys,
        F.col(probe_time).alias(_TIME),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(v_part.schema[_VAL].dataType).alias(_VAL),
        *[F.col(c).alias(f"__p_{c}") for c in pcols],
    )
    unioned = v_part.unionByName(p_part)
    # Third sort key: deterministic winner among duplicate (key, time) version
    # rows — both directions pick the max value-hash. No-op for unique
    # histories.
    #
    # backward: versions sort BEFORE probes at the same instant (tag 0 < 1)
    # and each probe takes the cumulative last version ⇒ inclusive <=.
    # forward: probes take the FIRST version at-or-after their instant, so
    # probes must sort before versions at the same instant — order _TAG and
    # the hash descending, frame currentRow→following, first(ignorenulls).
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(_TIME).asc_nulls_first(), F.col(_TAG), F.xxhash64(F.col(_VAL)))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = unioned.withColumn(_VAL, F.last(_VAL, ignorenulls=True).over(w))
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(
                F.col(_TIME).asc_nulls_last(),
                F.col(_TAG).desc(),
                F.xxhash64(F.col(_VAL)).desc(),
            )
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        filled = unioned.withColumn(_VAL, F.first(_VAL, ignorenulls=True).over(w))
    out = filled.filter(F.col(_TAG) == 1)
    if how == "inner":
        out = out.filter(F.col(_VAL).isNotNull())
    return out.select(
        *[F.col(f"__p_{c}").alias(c) for c in pcols],
        *[F.col(f"{_VAL}.{c}").alias(c) for c in vcols],
    )


def asof_nearest(
    probes: DataFrame,
    versions: DataFrame,
    on: str | Sequence[str],
    probe_time: str,
    probe_id: str,
    version_time: str = "_change_time",
) -> DataFrame:
    """Nearest-in-time as-of join (pandas ``merge_asof(direction=
    'nearest')``) — sensor-fusion semantics: each probe takes whichever
    version is CLOSEST in event time, before or after. Ties (equal
    distances) resolve to the backward match (the earlier version —
    deterministic, and the convention that never peeks later than it
    must).

    Composed from the two directional as-ofs this module already
    provides (each the one-shuffle union plan, not a brute-force
    candidate join): the matched version time rides along
    (the tolerance-path device), and one CASE per probe picks the
    smaller |delta|. ``probe_id`` must uniquely identify probe rows
    (the recombination join key).

    Output: probes' columns + versions' value columns +
    ``_matched_time`` + ``_direction`` ('backward'/'forward', NULL when
    unmatched).
    """
    keys = _as_list(on)
    matched = "__asof_matched_time"
    vers = versions.withColumn(
        matched, F.when(F.col(version_time).isNotNull(), F.col(version_time))
    )
    vcols = [c for c in versions.columns if c not in (*keys, version_time)]

    def side(direction: str, tag: str) -> DataFrame:
        j = asof_join(
            probes,
            vers,
            on=on,
            probe_time=probe_time,
            version_time=version_time,
            how="left",
            direction=direction,
        )
        sel = [F.col(probe_id)] + [
            F.col(c).alias(f"{c}__{tag}") for c in (*vcols, matched)
        ]
        return j.select(*sel)

    b = side("backward", "b")
    f = side("forward", "f")
    base = probes.join(b, probe_id, "left").join(f, probe_id, "left")
    mb = F.col(f"{matched}__b")
    mf = F.col(f"{matched}__f")
    pt = F.col(probe_time)
    d_b = F.unix_micros(pt.cast("timestamp")) - F.unix_micros(
        mb.cast("timestamp")
    )
    d_f = F.unix_micros(mf.cast("timestamp")) - F.unix_micros(
        pt.cast("timestamp")
    )
    use_b = mb.isNotNull() & (mf.isNull() | (d_b <= d_f))
    out_cols = list(probes.columns)
    picked = [
        F.when(use_b, F.col(f"{c}__b")).otherwise(F.col(f"{c}__f")).alias(c)
        for c in vcols
    ]
    return base.select(
        *out_cols,
        *picked,
        F.when(use_b, mb).otherwise(mf).alias("_matched_time"),
        F.when(use_b, F.lit("backward"))
        .when(mf.isNotNull(), F.lit("forward"))
        .alias("_direction"),
    )
