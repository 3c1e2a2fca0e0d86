"""Distributed statistical model fitting over DataFrame ops.

The reference engine (kerinin/flink-example) stops at SQL aggregates; a
training-data pipeline also fits cheap models ON the corpus itself —
length-vs-token calibration curves, per-domain drift baselines, z-score
outlier gates. These operators do that with the engine's determinism
contract intact:

- ``linear_fit`` is ordinary least squares via NORMAL-EQUATION sufficient
  statistics: with integer x/y every sufficient statistic (n, Σx, Σy,
  Σx², Σxy, Σy²) is an exact BIGINT sum — one map-side-combined
  aggregation per group, no iteration, no floating-point accumulation.
  slope/intercept/r² are then a FIXED sequence of exactly-rounded double
  ops on exact integers, bit-identical in any engine (DESIGN.md: never
  SUM raw doubles across engines).
- ``zscore_outliers`` flags |x - mean| > z·std per group from the same
  integer sufficient statistics; sqrt is the one IEEE exact-rounded
  non-rational op (DESIGN.md round 6), so z-scores are portable too.

Scale shape: both are a single groupBy over narrow integer columns —
the partial aggregation happens map-side, the shuffle carries one row
per group. Overflow bound: n·Σxy < 2^63 — holds through ~1e9 rows of
4-digit features per group; beyond that widen to DECIMAL(38,0) sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from flink_example_spark.operators.util import compact_cut, local_df, spread


def _sm_div(num: str, den: int | str, div: str = "div") -> str:
    """Sign-and-magnitude integer division for a possibly-negative
    numerator (the DESIGN.md round-8 rule): truncation-toward-zero by
    construction in BOTH engines, independent of how a future engine
    version rounds a bare negative integer division. The pinned DuckDB
    integer ``//`` already truncates toward zero like Spark ``div``
    (the flooring behavior the round-8 rule was written against is
    float ``//``), so this form is value-identical today — parity
    hashes unchanged; it exists as belt-and-braces portability.
    ``div`` is the engine token (Spark ``div``, DuckDB ``//``)."""
    return (
        f"(CASE WHEN ({num}) >= 0 THEN 1 ELSE -1 END)"
        f" * (abs({num}) {div} ({den}))"
    )


def _suff_stats(df: DataFrame, group_col: str, x_col: str, y_col: str | None):
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("sx"),
        F.sum(F.col(x_col).cast("long") * F.col(x_col).cast("long")).alias("sxx"),
    ]
    if y_col is not None:
        aggs += [
            F.sum(F.col(y_col).cast("long")).alias("sy"),
            F.sum(F.col(y_col).cast("long") * F.col(y_col).cast("long")).alias("syy"),
            F.sum(F.col(x_col).cast("long") * F.col(y_col).cast("long")).alias("sxy"),
        ]
    return df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)


def linear_fit(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group OLS fit y ≈ intercept + slope·x over INTEGER columns.

    Output: (grp, n, slope, intercept, r2), one row per group with
    n >= 2 and non-degenerate x. Closed form on exact BIGINT sums:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²)
        intercept = (Σy − slope·Σx) / n
        r²        = num² / (den_x · den_y)   (NULL when y is constant)

    num/den are BIGINT (exact); each division/multiplication above is one
    exactly-rounded double op, so every engine emits identical bits.
    """
    return fit_from_stats(_suff_stats(df, group_col, x_col, y_col))


def fit_from_stats(s: DataFrame) -> DataFrame:
    """The normal-equation closed form over a sufficient-statistics
    relation (grp, n, sx, sxx, sy, syy, sxy) — shared by the batch fit
    and the streaming twin (the stats are plain commutative sums, so
    they stream as one JVM-state aggregation)."""
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den_x")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("den_y")
    t = s.select("grp", "n", "sx", "sy", num, den_x, den_y).filter(
        (F.col("n") >= 2) & (F.col("den_x") > 0)
    )
    slope = F.col("num").cast("double") / F.col("den_x")
    t = t.withColumn("slope", slope)
    return t.select(
        "grp",
        "n",
        "slope",
        ((F.col("sy").cast("double") - F.col("slope") * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
        F.when(
            F.col("den_y") > 0,
            (F.col("num").cast("double") * F.col("num").cast("double"))
            / (F.col("den_x").cast("double") * F.col("den_y").cast("double")),
        ).alias("r2"),
    )


def linear_fit_oracle(
    source_sql: str, group_col: str, x_col: str, y_col: str
) -> str:
    """DuckDB twin of ``linear_fit`` — the same sufficient statistics and
    the same double-op sequence. ``source_sql`` yields the input relation."""
    return f"""
        WITH src AS ({source_sql}),
        s AS (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST({x_col} AS BIGINT)) AS BIGINT) AS sx,
                 CAST(SUM(CAST({x_col} AS BIGINT) * CAST({x_col} AS BIGINT)) AS BIGINT) AS sxx,
                 CAST(SUM(CAST({y_col} AS BIGINT)) AS BIGINT) AS sy,
                 CAST(SUM(CAST({y_col} AS BIGINT) * CAST({y_col} AS BIGINT)) AS BIGINT) AS syy,
                 CAST(SUM(CAST({x_col} AS BIGINT) * CAST({y_col} AS BIGINT)) AS BIGINT) AS sxy
          FROM src GROUP BY 1
        ), t AS (
          SELECT grp, n, sx, sy,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS den_x,
                 n * syy - sy * sy AS den_y
          FROM s WHERE n >= 2 AND n * sxx - sx * sx > 0
        ), f AS (
          SELECT grp, n, sx, sy, num, den_x, den_y,
                 CAST(num AS DOUBLE) / den_x AS slope
          FROM t
        )
        SELECT grp, n, slope,
               (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept,
               CASE WHEN den_y > 0 THEN
                 (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                   / (CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE))
               END AS r2
        FROM f
    """


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    x_col: str,
    id_col: str,
    z: float = 2.5,
) -> DataFrame:
    """Per-group z-score outlier gate over an INTEGER column: emit rows
    with |x − mean| > z·std (sample std). Output: (grp, id, x, zscore).

    mean/std come from the same exact BIGINT sufficient statistics as
    ``linear_fit``; std = sqrt(den_x / (n·(n−1))) uses the one portable
    non-rational op. The stats relation is group-count sized → broadcast
    back onto the rows; the corpus is scanned once, no second shuffle.
    """
    s = _suff_stats(df, group_col, x_col, None).filter(F.col("n") >= 2)
    stats = s.select(
        "grp",
        (F.col("sx").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("n") * (F.col("n") - F.lit(1)))
        ).alias("std"),
    ).filter(F.col("std") > 0)
    rows = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
    )
    scored = rows.join(F.broadcast(stats), "grp").select(
        "grp",
        "id",
        "x",
        ((F.col("x").cast("double") - F.col("mean")) / F.col("std")).alias("zscore"),
    )
    return scored.filter(F.abs(F.col("zscore")) > F.lit(float(z)))


def zscore_outliers_oracle(
    source_sql: str, group_col: str, x_col: str, id_col: str, z: float = 2.5
) -> str:
    """DuckDB twin of ``zscore_outliers`` (same stats, same op sequence)."""
    return f"""
        WITH src AS ({source_sql}),
        s AS (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST({x_col} AS BIGINT)) AS BIGINT) AS sx,
                 CAST(SUM(CAST({x_col} AS BIGINT) * CAST({x_col} AS BIGINT)) AS BIGINT) AS sxx
          FROM src GROUP BY 1
        ), stats AS (
          SELECT grp, CAST(sx AS DOUBLE) / n AS mean,
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (n * (n - 1))) AS std
          FROM s WHERE n >= 2
        )
        SELECT src.{group_col} AS grp, src.{id_col} AS id,
               CAST(src.{x_col} AS BIGINT) AS x,
               (CAST(src.{x_col} AS DOUBLE) - stats.mean) / stats.std AS zscore
        FROM src JOIN stats ON src.{group_col} = stats.grp
        WHERE stats.std > 0
          AND abs((CAST(src.{x_col} AS DOUBLE) - stats.mean) / stats.std) > {z}
    """


def mad_outliers(
    df: DataFrame,
    group_col: str,
    x_col: str,
    id_col: str,
    c: float = 3.0,
) -> DataFrame:
    """Per-group MAD (median-absolute-deviation) outlier gate — the robust
    sibling of :func:`zscore_outliers`: median/MAD shrug off the very
    outliers that inflate mean/std, so a group where 10% of rows are junk
    still gets a tight threshold. Emits rows with |x − median| > c·MAD.
    Output: (grp, id, x, med, mad, dev).

    Both medians are the exact interpolated percentile (Spark PERCENTILE ≡
    DuckDB QUANTILE_CONT, verified bit-identical by percentile_prices);
    deviations of integers from a half-integer median are exact doubles, so
    the second median interpolates exact values and the gate compares two
    exactly-rounded products — cross-engine hash-stable with no epsilon.

    Scale: the median is holistic (no one-pass sufficient statistic), so
    this is two group-grain aggregation passes, each broadcast back onto
    the rows; at petabyte scale substitute pass one with the mergeable KMV
    quantile sketch (operators/sketch.py) and keep the gate unchanged.
    """
    rows = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
    )
    med = rows.groupBy("grp").agg(F.percentile(F.col("x"), F.lit(0.5)).alias("med"))
    dev = rows.join(F.broadcast(med), "grp").withColumn(
        "dev", F.abs(F.col("x").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("grp").agg(F.percentile(F.col("dev"), F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "grp")
        .filter((F.col("mad") > 0) & (F.col("dev") > F.lit(float(c)) * F.col("mad")))
        .select("grp", "id", "x", "med", "mad", "dev")
    )


def mad_outliers_oracle(
    source_sql: str, group_col: str, x_col: str, id_col: str, c: float = 3.0
) -> str:
    """DuckDB twin of ``mad_outliers`` (same two-pass medians, same gate)."""
    return f"""
        WITH src AS MATERIALIZED (
          SELECT {group_col} AS grp, {id_col} AS id,
                 CAST({x_col} AS BIGINT) AS x
          FROM ({source_sql})
        ), m AS (
          SELECT grp, QUANTILE_CONT(x, 0.5) AS med FROM src GROUP BY grp
        ), d AS MATERIALIZED (
          SELECT src.grp, src.id, src.x, m.med,
                 abs(CAST(src.x AS DOUBLE) - m.med) AS dev
          FROM src JOIN m USING (grp)
        ), md AS (
          SELECT grp, QUANTILE_CONT(dev, 0.5) AS mad FROM d GROUP BY grp
        )
        SELECT d.grp, d.id, d.x, d.med, md.mad, d.dev
        FROM d JOIN md USING (grp)
        WHERE md.mad > 0 AND d.dev > {c} * md.mad
    """


def user_knn(
    events: DataFrame,
    k: int = 5,
    key_col: str = "user_id",
    dim_col: str = "event_type",
) -> DataFrame:
    """User-to-user cosine kNN over behavior profiles — the item/user
    collaborative-filtering primitive: each user's profile is their
    integer count vector over ``dim_col``, similarity is cosine computed
    RELATIONALLY (sparse dot product via a self-join on the dimension key,
    never materialized dense vectors). Output:
    ``(user_a, user_b, dot, cos, rank)``, top-``k`` neighbors per user.

    Exactness: dots and squared norms are BIGINT sums of integer counts;
    ``cos = dot / (sqrt(ssa)·sqrt(ssb))`` is three exactly-rounded double
    ops in a fixed order, so ranks (ties broken by neighbor id) are
    cross-engine identical.

    Scale: the profile relation is |users|×|dims| NONZERO entries; the
    dimension-key join shuffles only those (a sparse matrix product, the
    same shape a distributed similarity join uses). The harness dimension
    (5 event types) makes every pair collide — at web scale you block
    first (sign-LSH over profiles, or the minhash band machinery) and feed
    the blocked pairs through the same scoring tail.
    """
    from pyspark.sql.window import Window

    prof = events.groupBy(
        F.col(key_col).alias("u"), F.col(dim_col).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    # spread before the cut: the profile inherits ONE AQE-coalesced
    # partition and the quadratic pair enumeration ran single-task
    # (r14 stage probe: 6.7s/1 task). Broadcasting the build side keeps
    # the 5-distinct-value dimension key from hash-partitioning the
    # probe side onto <=5 tasks (guide SS3.1: inherent key skew) — but
    # the profile is USER-scaled, so the broadcast is SIZE-GATED (r15,
    # guide SS3.1 "broadcast only when the small side fits"): above
    # SPARK_GRAFT_KNN_BCAST_MAX rows the pair join falls back to a
    # deterministic salted join (probe side bucketed by xxhash64(u),
    # build side replicated per salt — guide SS2.5), which spreads the
    # low-cardinality dimension key across salt x dim tasks without any
    # driver-sized relation. Both paths groupBy the same integer sums —
    # results identical (pinned: tests/test_ml.py::
    # test_user_knn_salted_path_matches_broadcast).
    prof = spread(prof, "u").localCheckpoint()  # feeds norms AND both join sides
    import os as _os

    small = prof.count() <= int(
        _os.environ.get("SPARK_GRAFT_KNN_BCAST_MAX", "4000000")
    )
    ss = prof.groupBy("u").agg(F.sum(F.col("n") * F.col("n")).alias("ss"))
    if small:
        a, b = prof.alias("a"), prof.alias("b")
        dots = (
            a.join(F.broadcast(b), (F.col("a.d") == F.col("b.d")) & (F.col("a.u") != F.col("b.u")))
            .groupBy(F.col("a.u").alias("user_a"), F.col("b.u").alias("user_b"))
            .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("dot"))
        )
    else:
        # fixed salt count: the build side is copied once per salt, so it
        # must not grow with the core count
        n_salt = 16
        pa = prof.select(
            F.col("u").alias("__ua"),
            F.col("d").alias("__da"),
            F.col("n").alias("__na"),
            F.expr(f"pmod(xxhash64(u), {n_salt})").alias("__salt"),
        )
        pb = prof.select(
            F.col("u").alias("__ub"),
            F.col("d").alias("__db"),
            F.col("n").alias("__nb"),
            F.explode(F.array(*[F.lit(i) for i in range(n_salt)])).alias("__salt"),
        )
        dots = (
            pa.join(
                pb,
                (F.col("__da") == F.col("__db"))
                & (pa["__salt"] == pb["__salt"])
                & (F.col("__ua") != F.col("__ub")),
            )
            .groupBy(F.col("__ua").alias("user_a"), F.col("__ub").alias("user_b"))
            .agg(F.sum(F.col("__na") * F.col("__nb")).alias("dot"))
        )
    sa = ss.select(F.col("u").alias("user_a"), F.col("ss").alias("__ssa"))
    sb = ss.select(F.col("u").alias("user_b"), F.col("ss").alias("__ssb"))
    if small:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    scored = (
        dots.join(sa, "user_a")
        .join(sb, "user_b")
        .select(
            "user_a",
            "user_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("__ssa").cast("double")) * F.sqrt(F.col("__ssb").cast("double")))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("user_a").orderBy(F.col("cos").desc(), F.col("user_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def user_knn_oracle(k: int = 5, key_col: str = "user_id", dim_col: str = "event_type") -> str:
    return f"""
        WITH prof AS MATERIALIZED (
          SELECT {key_col} AS u, {dim_col} AS d, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), ss AS (
          SELECT u, CAST(SUM(n * n) AS BIGINT) AS ss FROM prof GROUP BY u
        ), dots AS (
          SELECT a.u AS user_a, b.u AS user_b, CAST(SUM(a.n * b.n) AS BIGINT) AS dot
          FROM prof a JOIN prof b ON a.d = b.d AND a.u <> b.u
          GROUP BY 1, 2
        ), scored AS (
          SELECT user_a, user_b, dot,
                 CAST(dot AS DOUBLE)
                   / (sqrt(CAST(sa.ss AS DOUBLE)) * sqrt(CAST(sb.ss AS DOUBLE))) AS cos
          FROM dots
          JOIN ss sa ON dots.user_a = sa.u
          JOIN ss sb ON dots.user_b = sb.u
        )
        SELECT user_a, user_b, dot, cos, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_a
                                       ORDER BY cos DESC, user_b) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_profiles(
    events: DataFrame, key_col: str = "user_id", dim_col: str = "event_type"
) -> DataFrame:
    """Dense behavior-profile vectors: each user's count over the FIXED
    event-type alphabet as a double array — the vector form of
    :func:`user_knn`'s sparse relation, ready for the repo's LSH
    machinery. Output: (vec_id, embedding array<double>)."""
    return events.groupBy(F.col(key_col).alias("vec_id")).agg(
        F.array(
            *[
                F.sum(F.when(F.col(dim_col) == t, 1).otherwise(0)).cast("double")
                for t in EVENT_TYPES
            ]
        ).alias("embedding")
    )


def user_knn_blocked(
    events: DataFrame,
    k: int = 3,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_bands: int = 2,
    key_col: str = "user_id",
    dim_col: str = "event_type",
) -> DataFrame:
    """The SCALE path for user-user kNN: candidates come from banded
    sign-LSH over the profile vectors (the repo's standard near-pair
    blocker) instead of the all-pairs dimension join — candidate cost
    follows bucket collisions, never users². The exact-cosine verify and
    per-user ranking reuse the LSH pair relation, so only near-neighbors
    above ``threshold`` rank. Output: (user_a, user_b, cos, rank).

    Behavior profiles cluster tightly (cosine between count vectors of
    same-mix users ≈ 1), exactly the high-threshold regime where the
    measured sign-LSH recall curve is ~1.0 (PERF.md).
    """
    from flink_example_spark.operators.similarity import lsh_cosine_pairs

    prof = user_profiles(events, key_col, dim_col)
    pairs = lsh_cosine_pairs(
        prof,
        threshold=threshold,
        n_planes=n_planes,
        n_bands=n_bands,
        dim=len(EVENT_TYPES),
    ).localCheckpoint()  # both direction branches consume it (recompute cut)
    both = pairs.select(
        F.col("vec_a").alias("user_a"), F.col("vec_b").alias("user_b"), "cos"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("user_a"), F.col("vec_a").alias("user_b"), "cos"
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_a").orderBy(F.col("cos").desc(), F.col("user_b"))
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def feature_corr(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    dim_col: str = "event_type",
    dims: tuple[str, ...] = EVENT_TYPES,
) -> DataFrame:
    """Pairwise Pearson correlation matrix between per-(key, day) feature
    counts — the diagnostics table behind feature selection and leakage
    hunts ("purchases correlate 0.9 with clicks; drop one"). Observation
    units are (key, day) pairs with ≥1 event; absent types count 0
    (densified against the fixed ``dims`` alphabet, so zeros are real
    observations, not missing rows).

    Exactness: every sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) is a
    BIGINT sum of integer counts; the correlation is a fixed sequence of
    exactly-rounded double ops (one sqrt per marginal — IEEE exact), so
    the |dims|² matrix is cross-engine bit-identical. Output:
    ``(type_a, type_b, n, corr)`` for a < b with non-degenerate marginals.

    Scale: one (key, day, type) count aggregation, densified by an
    explode over the FIXED alphabet (|units|·|dims| rows), one self-join
    on the unit key, one |dims|²-sized stats aggregation.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local alias clarity)

    unit_day = F.date_trunc("day", F.col(ts_col))
    cells = events.groupBy(
        F.col(key_col).alias("__k"), unit_day.alias("__d"), F.col(dim_col).alias("__t")
    ).agg(F.count(F.lit(1)).alias("__n"))
    units = cells.select("__k", "__d").distinct()
    dense = (
        units.select(
            "__k", "__d", F.explode(F.array(*[F.lit(t) for t in dims])).alias("__t")
        )
        .join(cells, ["__k", "__d", "__t"], "left")
        .select("__k", "__d", "__t", F.coalesce(F.col("__n"), F.lit(0)).alias("x"))
        .localCheckpoint()  # both self-join sides
    )
    a, b = dense.alias("a"), dense.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.__k") == F.col("b.__k"))
            & (F.col("a.__d") == F.col("b.__d"))
            & (F.col("a.__t") < F.col("b.__t")),
        )
        .groupBy(F.col("a.__t").alias("type_a"), F.col("b.__t").alias("type_b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a.x").alias("sx"),
            F.sum("b.x").alias("sy"),
            F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"),
            F.sum(F.col("a.x") * F.col("a.x")).alias("sxx"),
            F.sum(F.col("b.x") * F.col("b.x")).alias("syy"),
        )
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        s.filter(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "type_a",
            "type_b",
            "n",
            (num / (F.sqrt(den_x) * F.sqrt(den_y))).alias("corr"),
        )
    )


def feature_corr_oracle(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    dim_col: str = "event_type",
    dims: tuple[str, ...] = EVENT_TYPES,
) -> str:
    lits = ", ".join(f"'{t}'" for t in dims)
    return f"""
        WITH cells AS MATERIALIZED (
          SELECT {key_col} AS k, date_trunc('day', {ts_col}) AS d,
                 {dim_col} AS t, CAST(COUNT(*) AS BIGINT) AS n
          FROM {table} GROUP BY 1, 2, 3
        ), units AS (
          SELECT DISTINCT k, d FROM cells
        ), dense AS MATERIALIZED (
          SELECT g.k, g.d, g.t, COALESCE(cells.n, 0) AS x
          FROM (
            SELECT units.k, units.d, a.t
            FROM units, unnest([{lits}]) a(t)
          ) g
          LEFT JOIN cells ON cells.k = g.k AND cells.d = g.d AND cells.t = g.t
        ), s AS (
          SELECT a.t AS type_a, b.t AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(a.x) AS BIGINT) AS sx,
                 CAST(SUM(b.x) AS BIGINT) AS sy,
                 CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
                 CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
                 CAST(SUM(b.x * b.x) AS BIGINT) AS syy
          FROM dense a JOIN dense b
            ON a.k = b.k AND a.d = b.d AND a.t < b.t
          GROUP BY 1, 2
        )
        SELECT type_a, type_b, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
        FROM s
        WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """


def ab_proportion_test(
    events: DataFrame,
    key_col: str = "user_id",
    success_type: str = "purchase",
    type_col: str = "event_type",
    min_successes: int = 1,
) -> DataFrame:
    """Two-sample proportion z-test — the experimentation primitive: unit
    = user, assignment = the portable parity split ``key % 2`` (stand-in
    for a real bucketing column), success = the user produced at least
    ``min_successes`` ``success_type`` events (raise it when base
    conversion saturates — a 100% rate has zero pooled variance and no
    testable difference; the z is NULL-guarded either way). One output row:
    ``(n_a, conv_a, n_b, conv_b, p_a, p_b, z)`` with the pooled-variance
    z statistic.

    Counts are exact BIGINTs from two aggregations (per-user success
    flag, then one conditional rollup); the z expression is a FIXED
    sequence of exactly-rounded double ops (one sqrt), so the statistic
    is cross-engine bit-identical — the same determinism contract as
    ``linear_fit``.
    """
    per_user = events.groupBy(F.col(key_col).alias("__k")).agg(
        (
            F.sum(F.when(F.col(type_col) == success_type, 1).otherwise(0))
            >= min_successes
        )
        .cast("int")
        .alias("__s")
    )
    g = per_user.select((F.col("__k") % 2).alias("__g"), "__s")
    s = g.agg(
        F.sum(F.when(F.col("__g") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("__g") == 0, F.col("__s")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("__g") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("__g") == 1, F.col("__s")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.when(se > 0, (p_a - p_b) / se).alias("z"),
    )


def ab_proportion_oracle(
    table: str = "events",
    key_col: str = "user_id",
    success_type: str = "purchase",
    type_col: str = "event_type",
    min_successes: int = 1,
) -> str:
    return f"""
        WITH pu AS (
          SELECT {key_col} AS k,
                 CAST(SUM(CASE WHEN {type_col} = '{success_type}' THEN 1 ELSE 0 END)
                      >= {min_successes} AS INTEGER) AS s
          FROM {table} GROUP BY 1
        ), agg AS (
          SELECT CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN k % 2 = 0 THEN s ELSE 0 END) AS BIGINT) AS conv_a,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN s ELSE 0 END) AS BIGINT) AS conv_b
          FROM pu
        )
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / n_a AS p_a,
               CAST(conv_b AS DOUBLE) / n_b AS p_b,
               CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)))
                        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) > 0
               THEN ((CAST(conv_a AS DOUBLE) / n_a) - (CAST(conv_b AS DOUBLE) / n_b))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)))
                        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) END AS z
        FROM agg
    """


def ab_cuped_test(
    events: DataFrame,
    split_ts: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    pre_type: str = "view",
    success_type: str = "purchase",
) -> DataFrame:
    """CUPED variance-reduced A/B analysis (Deng et al. 2013) — the
    modern experimentation stack's workhorse: each user's POST-period
    outcome (``success_type`` count after ``split_ts``) is adjusted by
    their PRE-period covariate (``pre_type`` count before it),
    ``y' = y − θ(x − x̄)`` with θ fit on the pooled data, which strips the
    between-user variance the covariate explains and shrinks the standard
    error at the same sample size.

    Portability: summing adjusted doubles per user would be accumulation-
    order-dependent, so every adjusted moment is EXPANDED ALGEBRAICALLY
    into θ/x̄-weighted combinations of exact BIGINT sums (n, Σx, Σy, Σxy,
    Σx², Σy² per group) — a fixed sequence of exactly-rounded double ops,
    cross-engine bit-identical like ``linear_fit``. One output row:
    ``(theta, n_a, n_b, mean_adj_a, mean_adj_b, z_adj, z_raw)`` — z_raw
    (unadjusted difference-in-means) sits beside z_adj so the variance
    reduction is visible in the row itself.

    Scale: one per-user aggregation + one 2-group rollup; nothing beyond
    a grouped count's shuffle.
    """
    split = F.to_timestamp(F.lit(split_ts))
    per_user = events.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(
            F.when((F.col(type_col) == pre_type) & (F.col(ts_col) < split), 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                (F.col(type_col) == success_type) & (F.col(ts_col) >= split), 1
            ).otherwise(0)
        ).alias("y"),
    )
    g = per_user.select((F.col("__k") % 2).alias("__g"), "x", "y")

    def sums(side: int, name: str):
        c = F.col("__g") == side
        return [
            F.sum(F.when(c, 1).otherwise(0)).alias(f"n_{name}"),
            F.sum(F.when(c, F.col("x")).otherwise(0)).alias(f"sx_{name}"),
            F.sum(F.when(c, F.col("y")).otherwise(0)).alias(f"sy_{name}"),
            F.sum(F.when(c, F.col("x") * F.col("y")).otherwise(0)).alias(f"sxy_{name}"),
            F.sum(F.when(c, F.col("x") * F.col("x")).otherwise(0)).alias(f"sxx_{name}"),
            F.sum(F.when(c, F.col("y") * F.col("y")).otherwise(0)).alias(f"syy_{name}"),
        ]

    s = g.agg(*sums(0, "a"), *sums(1, "b"))
    N = F.col("n_a") + F.col("n_b")
    SX = F.col("sx_a") + F.col("sx_b")
    SY = F.col("sy_a") + F.col("sy_b")
    SXY = F.col("sxy_a") + F.col("sxy_b")
    SXX = F.col("sxx_a") + F.col("sxx_b")
    theta = (N * SXY - SX * SY).cast("double") / (N * SXX - SX * SX)
    xbar = SX.cast("double") / N
    s = s.withColumn("theta", theta).withColumn("xbar", xbar)

    def adj(name: str):
        n = F.col(f"n_{name}").cast("double")
        sx, sy = F.col(f"sx_{name}").cast("double"), F.col(f"sy_{name}").cast("double")
        sxy, sxx = F.col(f"sxy_{name}").cast("double"), F.col(f"sxx_{name}").cast("double")
        syy = F.col(f"syy_{name}").cast("double")
        th, xb = F.col("theta"), F.col("xbar")
        mean = (sy - th * sx) / n + th * xb
        # Σ(y')² expanded: y' = y − θx + θx̄
        ss = (
            syy
            - F.lit(2.0) * th * sxy
            + th * th * sxx
            + F.lit(2.0) * th * xb * sy
            - F.lit(2.0) * th * th * xb * sx
            + n * th * th * xb * xb
        )
        var = (ss - n * mean * mean) / (n - F.lit(1.0))
        return mean, var

    ma, va = adj("a")
    mb, vb = adj("b")
    raw_ma = F.col("sy_a").cast("double") / F.col("n_a")
    raw_mb = F.col("sy_b").cast("double") / F.col("n_b")
    raw_va = (
        F.col("syy_a").cast("double") - F.col("n_a") * raw_ma * raw_ma
    ) / (F.col("n_a") - F.lit(1.0))
    raw_vb = (
        F.col("syy_b").cast("double") - F.col("n_b") * raw_mb * raw_mb
    ) / (F.col("n_b") - F.lit(1.0))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    se_adj = F.sqrt(va / na + vb / nb)
    se_raw = F.sqrt(raw_va / na + raw_vb / nb)
    return s.select(
        F.col("theta"),
        F.col("n_a"),
        F.col("n_b"),
        ma.alias("mean_adj_a"),
        mb.alias("mean_adj_b"),
        F.when(se_adj > 0, (ma - mb) / se_adj).alias("z_adj"),
        F.when(se_raw > 0, (raw_ma - raw_mb) / se_raw).alias("z_raw"),
    )


def ab_cuped_oracle(
    split_ts: str,
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    pre_type: str = "view",
    success_type: str = "purchase",
) -> str:
    return f"""
        WITH pu AS (
          SELECT {key_col} AS k,
                 CAST(SUM(CASE WHEN {type_col} = '{pre_type}'
                          AND {ts_col} < TIMESTAMP '{split_ts}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN {type_col} = '{success_type}'
                          AND {ts_col} >= TIMESTAMP '{split_ts}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM {table} GROUP BY 1
        ), s AS (
          SELECT
            CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN k % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
            CAST(SUM(CASE WHEN k % 2 = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
            CAST(SUM(CASE WHEN k % 2 = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_a,
            CAST(SUM(CASE WHEN k % 2 = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
            CAST(SUM(CASE WHEN k % 2 = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_a,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_b,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b,
            CAST(SUM(CASE WHEN k % 2 = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy_b
          FROM pu
        ), t AS (
          SELECT *,
            CAST((n_a + n_b) * (sxy_a + sxy_b) - (sx_a + sx_b) * (sy_a + sy_b)
                 AS DOUBLE)
              / ((n_a + n_b) * (sxx_a + sxx_b) - (sx_a + sx_b) * (sx_a + sx_b))
              AS theta,
            CAST(sx_a + sx_b AS DOUBLE) / (n_a + n_b) AS xbar
          FROM s
        ), m AS (
          SELECT *,
            (CAST(sy_a AS DOUBLE) - theta * CAST(sx_a AS DOUBLE))
              / CAST(n_a AS DOUBLE) + theta * xbar AS ma,
            (CAST(sy_b AS DOUBLE) - theta * CAST(sx_b AS DOUBLE))
              / CAST(n_b AS DOUBLE) + theta * xbar AS mb,
            CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rma,
            CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rmb
          FROM t
        ), v AS (
          SELECT *,
            ((CAST(syy_a AS DOUBLE) - 2.0 * theta * CAST(sxy_a AS DOUBLE)
              + theta * theta * CAST(sxx_a AS DOUBLE)
              + 2.0 * theta * xbar * CAST(sy_a AS DOUBLE)
              - 2.0 * theta * theta * xbar * CAST(sx_a AS DOUBLE)
              + CAST(n_a AS DOUBLE) * theta * theta * xbar * xbar)
             - CAST(n_a AS DOUBLE) * ma * ma) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
            ((CAST(syy_b AS DOUBLE) - 2.0 * theta * CAST(sxy_b AS DOUBLE)
              + theta * theta * CAST(sxx_b AS DOUBLE)
              + 2.0 * theta * xbar * CAST(sy_b AS DOUBLE)
              - 2.0 * theta * theta * xbar * CAST(sx_b AS DOUBLE)
              + CAST(n_b AS DOUBLE) * theta * theta * xbar * xbar)
             - CAST(n_b AS DOUBLE) * mb * mb) / (CAST(n_b AS DOUBLE) - 1.0) AS vb,
            (CAST(syy_a AS DOUBLE) - CAST(n_a AS DOUBLE) * rma * rma)
              / (CAST(n_a AS DOUBLE) - 1.0) AS rva,
            (CAST(syy_b AS DOUBLE) - CAST(n_b AS DOUBLE) * rmb * rmb)
              / (CAST(n_b AS DOUBLE) - 1.0) AS rvb
          FROM m
        )
        SELECT theta, n_a, n_b, ma AS mean_adj_a, mb AS mean_adj_b,
               CASE WHEN sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)) > 0
                    THEN (ma - mb)
                      / sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
               END AS z_adj,
               CASE WHEN sqrt(rva / CAST(n_a AS DOUBLE) + rvb / CAST(n_b AS DOUBLE)) > 0
                    THEN (rma - rmb)
                      / sqrt(rva / CAST(n_a AS DOUBLE) + rvb / CAST(n_b AS DOUBLE))
               END AS z_raw
        FROM v
    """


def nb_language_classifier(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    holdout_mod: int = 5,
) -> DataFrame:
    """Multinomial naive-Bayes classifier trained on the corpus itself —
    the fastText-style supervised gate real LLM pipelines run at ingest
    (language ID, quality buckets). Train split = ``id % holdout_mod != 0``,
    holdout = the rest; label = ``label_col``.

    Reference parity: the reference engine (kerinin/flink-example,
    App.java:96-150) computes grouped aggregates; this composes the same
    aggregate machinery into a learned classifier: per-class token counts
    are ONE map-side-combined aggregation, and scoring is a token join +
    per-doc aggregation — no Python, no iteration.

    Engine portability: Laplace-smoothed likelihoods are quantized to whole
    surprisal bits, ``floor(log2((T_k + V) / (c_tk + 1)))`` computed as
    ``length(bin(x div y)) - 1`` — pure BIGINT both engines evaluate
    identically (the DESIGN.md integer-log2 idiom; libm log() differs in
    the last ulp across engines). Class priors quantize the same way. The
    argmin over classes uses a zero-padded ``bits || class`` string key, so
    ties break to the lexicographically smallest class in both engines.

    Output: ``(doc_id, pred_label, true_label, pred_bits, is_correct)``.

    Scale: explode -> (token,class) count shuffle (map-side combined);
    the model relation is |vocab| x K rows — broadcastable for real
    vocabularies; scoring is one equi-join on token + two per-doc
    aggregations. Nothing driver-side.
    """
    did, lab = F.col(id_col), F.col(label_col)
    train = documents.filter(did % holdout_mod != 0)
    test = documents.filter(did % holdout_mod == 0)
    model, priors = nb_train(train, text_col, label_col)
    scored = nb_score(test, model, priors, id_col, text_col)
    return scored.join(
        test.select(did.alias("__id"), lab.alias("true_label")), "__id"
    ).select(
        F.col("__id").alias(id_col),
        F.substring(F.col("__bk"), 21, 64).alias("pred_label"),
        "true_label",
        F.substring(F.col("__bk"), 1, 20).cast("bigint").alias("pred_bits"),
        F.when(F.substring(F.col("__bk"), 21, 64) == F.col("true_label"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_correct"),
    )


def nb_train(
    train: DataFrame, text_col: str = "text", label_col: str = "lang"
) -> tuple[DataFrame, DataFrame]:
    """Train the multinomial NB model: returns ``(model, priors)`` — the
    dense (token, class) surprisal-bit relation and the per-class prior
    bits. Frozen (localCheckpoint) at a serving boundary, these two
    relations ARE the deployable model artifact."""
    from flink_example_spark.operators.text import normalized, tokens

    txt, lab = F.col(text_col), F.col(label_col)
    tr_tok = train.select(
        lab.alias("__k"), F.explode(tokens(normalized(txt))).alias("__t")
    ).filter(F.col("__t") != "")
    counts = tr_tok.groupBy("__t", "__k").agg(F.count(F.lit(1)).alias("__c"))
    class_tot = counts.groupBy("__k").agg(F.sum("__c").alias("__tot"))
    vocab = tr_tok.select("__t").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("__v"))
    # dense (token, class) grid with Laplace-smoothed surprisal bits;
    # zero-count cells come from the left join
    model = (
        vocab.crossJoin(F.broadcast(class_tot))
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["__t", "__k"], "left")
        .select(
            "__t",
            "__k",
            (
                F.length(
                    F.bin(
                        F.expr("(__tot + __v) div (coalesce(__c, 0) + 1)")
                    )
                )
                - 1
            ).alias("__bits"),
        )
    )
    class_docs = train.groupBy(lab.alias("__k")).agg(F.count(F.lit(1)).alias("__dk"))
    total_docs = train.agg(F.count(F.lit(1)).alias("__d"))
    priors = (
        class_docs.crossJoin(F.broadcast(total_docs))
        .select("__k", (F.length(F.bin(F.expr("__d div __dk"))) - 1).alias("__pbits"))
    )
    return model, priors


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a trained NB model: returns ``(__id,
    __bk)`` where ``__bk`` is the zero-padded ``bits || class`` argmin key
    (the caller unpacks prediction and score). Stateless per document —
    exactly the model-serving shape a streaming ingest gate runs."""
    from flink_example_spark.operators.text import normalized, tokens

    did, txt = F.col(id_col), F.col(text_col)
    te_tf = (
        docs.select(did.alias("__id"), F.explode(tokens(normalized(txt))).alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    tok_bits = (
        te_tf.join(model, "__t")
        .groupBy("__id", "__k")
        .agg(F.sum(F.col("__tf") * F.col("__bits")).alias("__tb"))
    )
    scored = (
        docs.select(did.alias("__id"))
        .crossJoin(F.broadcast(priors))
        .join(tok_bits, ["__id", "__k"], "left")
        .select(
            "__id",
            F.concat(
                F.lpad(
                    (F.col("__pbits") + F.coalesce(F.col("__tb"), F.lit(0))).cast(
                        "string"
                    ),
                    20,
                    "0",
                ),
                F.col("__k"),
            ).alias("__key"),
        )
    )
    return scored.groupBy("__id").agg(F.min("__key").alias("__bk"))


def nb_language_oracle(holdout_mod: int = 5) -> str:
    """DuckDB twin of :func:`nb_language_classifier` (documents table)."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
        " ' +', ' ', 'g'))"
    )
    m = holdout_mod
    return f"""
        WITH tr AS MATERIALIZED (
          SELECT lang AS k, unnest(string_split_regex({norm}, '\\s+')) AS t
          FROM documents WHERE doc_id % {m} <> 0
        ), tr2 AS MATERIALIZED (SELECT * FROM tr WHERE t <> ''),
        c AS MATERIALIZED (SELECT t, k, CAST(COUNT(*) AS BIGINT) AS c FROM tr2 GROUP BY t, k),
        tk AS MATERIALIZED (SELECT k, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY k),
        v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM tr2),
        model AS MATERIALIZED (
          SELECT vt.t, tk.k, len(bin((tk.tot + v.v) // (COALESCE(c.c, 0) + 1))) - 1 AS bits
          FROM (SELECT DISTINCT t FROM tr2) vt CROSS JOIN tk CROSS JOIN v
          LEFT JOIN c ON c.t = vt.t AND c.k = tk.k
        ),
        dk AS (SELECT lang AS k, CAST(COUNT(*) AS BIGINT) AS dk
               FROM documents WHERE doc_id % {m} <> 0 GROUP BY lang),
        dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d
                 FROM documents WHERE doc_id % {m} <> 0),
        prior AS MATERIALIZED (
          SELECT k, len(bin(d // dk)) - 1 AS pbits FROM dk CROSS JOIN dtot
        ),
        tf AS MATERIALIZED (
          SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
            SELECT doc_id, unnest(string_split_regex({norm}, '\\s+')) AS t
            FROM documents WHERE doc_id % {m} = 0
          ) WHERE t <> '' GROUP BY doc_id, t
        ),
        tok AS MATERIALIZED (
          SELECT tf.doc_id, m.k, CAST(SUM(tf.tf * m.bits) AS BIGINT) AS tb
          FROM tf JOIN model m USING (t) GROUP BY tf.doc_id, m.k
        ),
        scored AS MATERIALIZED (
          SELECT te.doc_id,
                 lpad(CAST(p.pbits + COALESCE(tok.tb, 0) AS VARCHAR), 20, '0') || p.k AS key
          FROM (SELECT doc_id FROM documents WHERE doc_id % {m} = 0) te
          CROSS JOIN prior p
          LEFT JOIN tok ON tok.doc_id = te.doc_id AND tok.k = p.k
        ),
        best AS (SELECT doc_id, MIN(key) AS bk FROM scored GROUP BY doc_id)
        SELECT b.doc_id, substr(b.bk, 21) AS pred_label, d.lang AS true_label,
               CAST(substr(b.bk, 1, 20) AS BIGINT) AS pred_bits,
               CAST(CASE WHEN substr(b.bk, 21) = d.lang THEN 1 ELSE 0 END AS BIGINT)
                 AS is_correct
        FROM best b JOIN documents d USING (doc_id)
    """


def regression_eval(
    df: DataFrame,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    holdout_mod: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Train/holdout evaluation harness for :func:`linear_fit` — the
    model-quality loop a calibration pipeline runs: fit per-group OLS on
    ``id % holdout_mod != 0``, score the holdout, report per-group MAE and
    RMSE.

    Portability: the prediction ``intercept + slope*x`` and the residual
    are a FIXED sequence of exactly-rounded double ops on portable fit
    outputs; residuals then QUANTIZE to BIGINT milli-units before any sum
    (the DESIGN.md rule — never SUM raw doubles), so Σ|e| and Σe² are
    exact integers, and MAE/RMSE are single double divisions (plus one
    exact-rounded sqrt) at the output boundary. Overflow bound:
    n·(err·scale)² < 2^63 — thousands-magnitude residuals at scale=1000
    hold to ~1e7 holdout rows per group.

    Output: ``(grp, n_test, mae, rmse)``.
    """
    did = F.col(id_col)
    train = df.filter(did % holdout_mod != 0)
    test = df.filter(did % holdout_mod == 0)
    # reserved alias so a caller whose group column is itself named "grp"
    # (the fit's output name) cannot collide after the join
    model = linear_fit(train, group_col, x_col, y_col).select(
        F.col("grp").alias("__re_grp"), "slope", "intercept"
    )
    scored = test.join(
        F.broadcast(model), test[group_col] == model["__re_grp"]
    ).select(
        F.col("__re_grp").alias("__re_g"),
        F.floor(
            (
                F.col(y_col).cast("double")
                - (F.col("intercept") + F.col("slope") * F.col(x_col).cast("double"))
            )
            * scale
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("eq"),
    )
    return scored.groupBy(F.col("__re_g").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_test"),
        (
            (F.sum(F.abs(F.col("eq"))).cast("double") / F.count(F.lit(1)))
            / F.lit(float(scale))
        ).alias("mae"),
        (
            F.sqrt(
                F.sum(F.col("eq") * F.col("eq")).cast("double") / F.count(F.lit(1))
            )
            / F.lit(float(scale))
        ).alias("rmse"),
    )


def regression_eval_oracle(
    source_sql: str,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    holdout_mod: int = 5,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`regression_eval`. ``source_sql`` must yield
    ``id_col``, ``group_col``, ``x_col``, ``y_col``."""
    fit = linear_fit_oracle(
        f"SELECT * FROM ({source_sql}) WHERE {id_col} % {holdout_mod} <> 0",
        group_col,
        x_col,
        y_col,
    )
    return f"""
        WITH model AS MATERIALIZED ({fit}),
        scored AS (
          SELECT m.grp,
                 CAST(floor((CAST({y_col} AS DOUBLE)
                       - (m.intercept + m.slope * CAST({x_col} AS DOUBLE)))
                      * {scale} + 0.5) AS BIGINT) AS eq
          FROM ({source_sql}) t
          JOIN model m ON t.{group_col} = m.grp
          WHERE t.{id_col} % {holdout_mod} = 0
        )
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_test,
               (CAST(SUM(abs(eq)) AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS mae,
               sqrt(CAST(SUM(eq * eq) AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS rmse
        FROM scored GROUP BY grp
    """


def crossval_eval(
    df: DataFrame,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """K-fold cross-validation of the per-group OLS fit in ONE data pass —
    no per-fold re-scan. OLS sufficient statistics are a sum monoid, so
    the leave-fold-out model is GROUP TOTALS MINUS THE FOLD'S OWN STATS
    (exact BIGINT subtraction): one (group, fold) aggregation, one
    group-total aggregation, and every fold's model falls out by
    subtraction — the algebraic trick that makes k-fold CV cost the same
    as a single fit at any scale.

    Folds are deterministic (``id % k``); residual quantization and
    MAE/RMSE follow :func:`regression_eval` exactly.

    Output: ``(grp, fold, n_test, mae, rmse)`` — one row per (group,
    fold) whose leave-out training side is non-degenerate.
    """
    did = F.col(id_col)
    base = df.select(
        F.col(group_col).alias("g"),
        (did % k).alias("fold"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    )
    fs = base.groupBy("g", "fold").agg(
        F.count(F.lit(1)).alias("fn"),
        F.sum("x").alias("fsx"),
        F.sum(F.col("x") * F.col("x")).alias("fsxx"),
        F.sum("y").alias("fsy"),
        F.sum(F.col("y") * F.col("y")).alias("fsyy"),
        F.sum(F.col("x") * F.col("y")).alias("fsxy"),
    )
    tot = fs.groupBy("g").agg(
        F.sum("fn").alias("tn"),
        F.sum("fsx").alias("tsx"),
        F.sum("fsxx").alias("tsxx"),
        F.sum("fsy").alias("tsy"),
        F.sum("fsyy").alias("tsyy"),
        F.sum("fsxy").alias("tsxy"),
    )
    loo = (
        fs.join(F.broadcast(tot), "g")
        .select(
            "g",
            "fold",
            (F.col("tn") - F.col("fn")).alias("n"),
            (F.col("tsx") - F.col("fsx")).alias("sx"),
            (F.col("tsxx") - F.col("fsxx")).alias("sxx"),
            (F.col("tsy") - F.col("fsy")).alias("sy"),
            (F.col("tsxy") - F.col("fsxy")).alias("sxy"),
        )
        .withColumn("num", F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .withColumn("den_x", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .filter((F.col("n") >= 2) & (F.col("den_x") > 0))
        .withColumn("slope", F.col("num").cast("double") / F.col("den_x"))
        .withColumn(
            "intercept",
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx")) / F.col("n"),
        )
        .select("g", "fold", "slope", "intercept")
    )
    scored = base.join(F.broadcast(loo), ["g", "fold"]).select(
        "g",
        "fold",
        F.floor(
            (
                F.col("y").cast("double")
                - (F.col("intercept") + F.col("slope") * F.col("x").cast("double"))
            )
            * scale
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("eq"),
    )
    return scored.groupBy(
        F.col("g").alias("grp"), "fold"
    ).agg(
        F.count(F.lit(1)).alias("n_test"),
        (
            (F.sum(F.abs(F.col("eq"))).cast("double") / F.count(F.lit(1)))
            / F.lit(float(scale))
        ).alias("mae"),
        (
            F.sqrt(
                F.sum(F.col("eq") * F.col("eq")).cast("double") / F.count(F.lit(1))
            )
            / F.lit(float(scale))
        ).alias("rmse"),
    )


def crossval_eval_oracle(
    source_sql: str,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    k: int = 5,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`crossval_eval`."""
    return f"""
        WITH base AS MATERIALIZED (
          SELECT {group_col} AS g, {id_col} % {k} AS fold,
                 CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y
          FROM ({source_sql})
        ), fs AS MATERIALIZED (
          SELECT g, fold, CAST(COUNT(*) AS BIGINT) AS fn,
                 CAST(SUM(x) AS BIGINT) AS fsx, CAST(SUM(x*x) AS BIGINT) AS fsxx,
                 CAST(SUM(y) AS BIGINT) AS fsy, CAST(SUM(y*y) AS BIGINT) AS fsyy,
                 CAST(SUM(x*y) AS BIGINT) AS fsxy
          FROM base GROUP BY g, fold
        ), tot AS (
          SELECT g, SUM(fn) AS tn, SUM(fsx) AS tsx, SUM(fsxx) AS tsxx,
                 SUM(fsy) AS tsy, SUM(fsyy) AS tsyy, SUM(fsxy) AS tsxy
          FROM fs GROUP BY g
        ), loo AS MATERIALIZED (
          SELECT g, fold, slope,
                 (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
          FROM (
            SELECT g, fold, n, sx, sy,
                   CAST(num AS DOUBLE) / den_x AS slope
            FROM (
              SELECT fs.g, fs.fold,
                     CAST(tn - fn AS BIGINT) AS n,
                     CAST(tsx - fsx AS BIGINT) AS sx,
                     CAST(tsxx - fsxx AS BIGINT) AS sxx,
                     CAST(tsy - fsy AS BIGINT) AS sy,
                     CAST(tsxy - fsxy AS BIGINT) AS sxy,
                     CAST((tn - fn) * (tsxy - fsxy)
                          - (tsx - fsx) * (tsy - fsy) AS BIGINT) AS num,
                     CAST((tn - fn) * (tsxx - fsxx)
                          - (tsx - fsx) * (tsx - fsx) AS BIGINT) AS den_x
              FROM fs JOIN tot USING (g)
            ) WHERE n >= 2 AND den_x > 0
          )
        ), scored AS (
          SELECT b.g, b.fold,
                 CAST(floor((CAST(b.y AS DOUBLE)
                       - (m.intercept + m.slope * CAST(b.x AS DOUBLE)))
                      * {scale} + 0.5) AS BIGINT) AS eq
          FROM base b JOIN loo m ON b.g = m.g AND b.fold = m.fold
        )
        SELECT g AS grp, fold, CAST(COUNT(*) AS BIGINT) AS n_test,
               (CAST(SUM(abs(eq)) AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS mae,
               sqrt(CAST(SUM(eq * eq) AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS rmse
        FROM scored GROUP BY g, fold
    """


def winsorize_stats(
    df: DataFrame,
    group_col: str,
    x_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group winsorized summary: clip values to the exact interpolated
    [p_lo, p_hi] percentiles and report the robust mean — the standard
    tail-taming step before feeding heavy-tailed metrics (latencies,
    revenue) into models or dashboards.

    Portability: percentiles are the interpolated PERCENTILE ≡
    QUANTILE_CONT pair; clipping is comparison-only (exact); the clipped
    mean QUANTIZES each clipped value to BIGINT micro-units before the
    sum (never SUM raw doubles) and divides once at the boundary.

    Output: ``(grp, n, p_lo, p_hi, n_clipped_low, n_clipped_high,
    winsorized_mean)``.
    """
    rows = df.filter(F.col(x_col).isNotNull()).select(
        F.col(group_col).alias("grp"), F.col(x_col).cast("double").alias("x")
    )
    pct = rows.groupBy("grp").agg(
        F.percentile(F.col("x"), F.lit(lo)).alias("p_lo"),
        F.percentile(F.col("x"), F.lit(hi)).alias("p_hi"),
    )
    clipped = rows.join(F.broadcast(pct), "grp").select(
        "grp",
        "p_lo",
        "p_hi",
        F.least(F.greatest(F.col("x"), F.col("p_lo")), F.col("p_hi")).alias("cx"),
        (F.col("x") < F.col("p_lo")).cast("bigint").alias("is_lo"),
        (F.col("x") > F.col("p_hi")).cast("bigint").alias("is_hi"),
    )
    return clipped.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("p_lo").alias("p_lo"),
        F.max("p_hi").alias("p_hi"),
        F.sum("is_lo").alias("n_clipped_low"),
        F.sum("is_hi").alias("n_clipped_high"),
        (
            F.sum(F.floor(F.col("cx") * scale + F.lit(0.5)).cast("bigint")).cast(
                "double"
            )
            / F.count(F.lit(1))
            / F.lit(float(scale))
        ).alias("winsorized_mean"),
    )


def winsorize_oracle(
    source_sql: str,
    group_col: str,
    x_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`winsorize_stats`."""
    return f"""
        WITH src AS MATERIALIZED (
          SELECT {group_col} AS grp, CAST({x_col} AS DOUBLE) AS x
          FROM ({source_sql}) WHERE {x_col} IS NOT NULL
        ), pct AS (
          SELECT grp, QUANTILE_CONT(x, {lo}) AS p_lo, QUANTILE_CONT(x, {hi}) AS p_hi
          FROM src GROUP BY grp
        ), clipped AS (
          SELECT src.grp, pct.p_lo, pct.p_hi,
                 least(greatest(src.x, pct.p_lo), pct.p_hi) AS cx,
                 CAST(src.x < pct.p_lo AS BIGINT) AS is_lo,
                 CAST(src.x > pct.p_hi AS BIGINT) AS is_hi
          FROM src JOIN pct USING (grp)
        )
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               MAX(p_lo) AS p_lo, MAX(p_hi) AS p_hi,
               CAST(SUM(is_lo) AS BIGINT) AS n_clipped_low,
               CAST(SUM(is_hi) AS BIGINT) AS n_clipped_high,
               CAST(SUM(CAST(floor(cx * {scale} + 0.5) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / {float(scale)!r} AS winsorized_mean
        FROM clipped GROUP BY grp
    """


def diff_in_diff(
    events: DataFrame,
    cutover_ts: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Difference-in-differences estimator per group — the panel
    experimentation design beside :func:`ab_proportion_test` (cross-
    sectional) and :func:`ab_cuped_test` (covariate adjustment): treatment
    = odd ``key_col`` (the repo's parity split), exposure starts at
    ``cutover_ts``, and the causal estimate is
    ``(ΔT_post−pre) − (ΔC_post−pre)``.

    ONE conditional aggregation per group computes all four cell sums in
    exact DECIMAL cents and four BIGINT counts; the estimate is a fixed
    sequence of four exactly-rounded double divisions and three
    subtractions — portable bit-for-bit.

    Output: ``(grp, n_t_pre, n_t_post, n_c_pre, n_c_post, m_t_pre,
    m_t_post, m_c_pre, m_c_post, did)``.
    """
    treat = (F.col(key_col) % 2 == 1)
    post = F.col(ts_col).cast("timestamp") >= F.lit(cutover_ts).cast("timestamp")
    v = F.col(value_col).cast("decimal(18,2)")

    def cell(t: bool, p: bool, what: str):
        cond = (treat == t) & (post == p)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
        return F.sum(F.when(cond, v).otherwise(F.lit(0).cast("decimal(18,2)")))

    agg = events.groupBy(F.col(group_col).alias("grp")).agg(
        cell(True, False, "n").alias("n_t_pre"),
        cell(True, True, "n").alias("n_t_post"),
        cell(False, False, "n").alias("n_c_pre"),
        cell(False, True, "n").alias("n_c_post"),
        cell(True, False, "s").alias("s_t_pre"),
        cell(True, True, "s").alias("s_t_post"),
        cell(False, False, "s").alias("s_c_pre"),
        cell(False, True, "s").alias("s_c_post"),
    )
    means = {
        c: (F.col(f"s_{c}").cast("double") / F.col(f"n_{c}")).alias(f"m_{c}")
        for c in ("t_pre", "t_post", "c_pre", "c_post")
    }
    out = agg.filter(
        (F.col("n_t_pre") > 0) & (F.col("n_t_post") > 0)
        & (F.col("n_c_pre") > 0) & (F.col("n_c_post") > 0)
    ).select("grp", "n_t_pre", "n_t_post", "n_c_pre", "n_c_post", *means.values())
    return out.withColumn(
        "did",
        (F.col("m_t_post") - F.col("m_t_pre"))
        - (F.col("m_c_post") - F.col("m_c_pre")),
    )


def diff_in_diff_oracle(
    cutover_ts: str,
    table: str = "events",
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`diff_in_diff`."""
    cells = {
        "t_pre": f"({key_col} % 2 = 1) AND {ts_col} < TIMESTAMP '{cutover_ts}'",
        "t_post": f"({key_col} % 2 = 1) AND {ts_col} >= TIMESTAMP '{cutover_ts}'",
        "c_pre": f"({key_col} % 2 = 0) AND {ts_col} < TIMESTAMP '{cutover_ts}'",
        "c_post": f"({key_col} % 2 = 0) AND {ts_col} >= TIMESTAMP '{cutover_ts}'",
    }
    n_cols = ", ".join(
        f"CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS n_{k}"
        for k, c in cells.items()
    )
    s_cols = ", ".join(
        f"SUM(CASE WHEN {c} THEN CAST({value_col} AS DECIMAL(18,2))"
        f" ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_{k}"
        for k, c in cells.items()
    )
    m_cols = ", ".join(
        f"CAST(s_{k} AS DOUBLE) / n_{k} AS m_{k}" for k in cells
    )
    return f"""
        WITH agg AS (
          SELECT {group_col} AS grp, {n_cols}, {s_cols}
          FROM {table} GROUP BY {group_col}
        ), m AS (
          SELECT grp, n_t_pre, n_t_post, n_c_pre, n_c_post, {m_cols}
          FROM agg
          WHERE n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0
        )
        SELECT *, (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did FROM m
    """


# Poisson(1) CDF thresholds scaled to 2^32 (floor), for the deterministic
# hash -> multiplicity map of the Poisson bootstrap. P(X<=k) for k=0..5;
# hashes past the last threshold draw multiplicity 6.
_POISSON_THRESHOLDS = [
    1580030168,  # P(0)   = .36788
    3160060337,  # P(<=1) = .73576
    3950075421,  # P(<=2) = .91970
    4213413783,  # P(<=3) = .98101
    4279248373,  # P(<=4) = .99634
    4292415291,  # P(<=5) = .99941
]


def bootstrap_ci(
    events: DataFrame,
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    n_replicates: int = 32,
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Confidence interval for the per-group mean by POISSON BOOTSTRAP —
    the resampling scheme that actually works on a cluster (Chamandy et
    al., Google 2012): instead of sampling n rows with replacement
    (which needs global coordination), every row independently joins
    replicate b with multiplicity ~ Poisson(1). Here the multiplicity is
    DETERMINISTIC: the portable md5 hash of (row id, b) mapped through
    the exact Poisson(1) CDF thresholds — reproducible bit-for-bit in
    any engine, no RNG state anywhere.

    Per (group, replicate): mean of the value with multiplicities, sums
    in exact DECIMAL cents. The CI is the interpolated [lo, hi]
    percentile over the ``n_replicates`` replicate means (PERCENTILE ≡
    QUANTILE_CONT).

    Scale: one explode by ``n_replicates`` (narrow integer rows), one
    (group × replicate)-keyed aggregation, one group-keyed percentile
    over B points. Output: ``(grp, n_rows, mean, ci_lo, ci_hi)``.
    """
    from flink_example_spark.operators.sketch import portable_hash32

    thresholds = _POISSON_THRESHOLDS
    src = events.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("string").alias("rid"),
        F.col(value_col).cast("decimal(18,2)").alias("v"),
    )
    # spread before the B-way explode + per-row md5: off a single-file
    # scan this otherwise runs single-task (guide SS2.5; r14)
    rep = spread(src, F.col("rid")).select(
        "grp",
        "rid",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("b"),
    ).withColumn(
        "h", portable_hash32(F.concat_ws("|", F.col("rid"), F.col("b")))
    )
    mult = F.when(F.col("h") < thresholds[0], 0)
    for k, t in enumerate(thresholds[1:], start=1):
        mult = mult.when(F.col("h") < t, k)
    mult = mult.otherwise(len(thresholds))
    means = (
        rep.withColumn("m", mult)
        .groupBy("grp", "b")
        .agg(
            F.sum(F.col("v") * F.col("m")).alias("s"),
            F.sum("m").alias("n"),
        )
        .filter(F.col("n") > 0)
        .select("grp", "b", (F.col("s").cast("double") / F.col("n")).alias("mean_b"))
    )
    base = src.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean"),
    )
    ci = means.groupBy("grp").agg(
        F.percentile(F.col("mean_b"), F.lit(lo)).alias("ci_lo"),
        F.percentile(F.col("mean_b"), F.lit(hi)).alias("ci_hi"),
    )
    return base.join(ci, "grp").select("grp", "n_rows", "mean", "ci_lo", "ci_hi")


def bootstrap_ci_oracle(
    table: str = "events",
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    n_replicates: int = 32,
    lo: float = 0.025,
    hi: float = 0.975,
) -> str:
    """DuckDB twin of :func:`bootstrap_ci`."""
    t = _POISSON_THRESHOLDS
    mult = "CASE " + " ".join(
        f"WHEN h < {th} THEN {k}" for k, th in enumerate(t)
    ) + f" ELSE {len(t)} END"
    return f"""
        WITH src AS MATERIALIZED (
          SELECT {group_col} AS grp, CAST({id_col} AS VARCHAR) AS rid,
                 CAST({value_col} AS DECIMAL(18,2)) AS v
          FROM {table}
        ), rep AS (
          SELECT grp, v, b,
                 CAST(concat('0x', substr(md5(rid || '|' || CAST(b AS VARCHAR)),
                      1, 8)) AS BIGINT) AS h
          FROM src, unnest(range(1, {n_replicates} + 1)) AS r(b)
        ), means AS MATERIALIZED (
          SELECT grp, b, CAST(SUM(v * m) AS DOUBLE) / SUM(m) AS mean_b
          FROM (SELECT grp, v, b, {mult} AS m FROM rep)
          GROUP BY grp, b HAVING SUM(m) > 0
        ), base AS (
          SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean
          FROM src GROUP BY grp
        ), ci AS (
          SELECT grp, QUANTILE_CONT(mean_b, {lo}) AS ci_lo,
                 QUANTILE_CONT(mean_b, {hi}) AS ci_hi
          FROM means GROUP BY grp
        )
        SELECT base.grp, n_rows, mean, ci_lo, ci_hi
        FROM base JOIN ci USING (grp)
    """


def wilson_ci(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    threshold: float = 100.0,
    z: float = 1.959963984540054,  # Phi^-1(0.975), a fixed shared constant
) -> DataFrame:
    """Wilson score interval for a per-group success proportion — the
    binomial CI that behaves at small n and extreme p (unlike the normal
    approximation), closed-form:

        center = (p + z²/2n) / (1 + z²/n)
        half   = z·sqrt(p(1−p)/n + z²/4n²) / (1 + z²/n)

    Success = ``value > threshold``. n and s are exact BIGINTs; the
    interval is a FIXED sequence of exactly-rounded double ops with one
    sqrt — portable bit-for-bit. Output: ``(grp, n, successes, p_hat,
    ci_lo, ci_hi)``.
    """
    agg = events.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col(value_col) > threshold).cast("bigint")).alias("s"),
    )
    nd = F.col("n").cast("double")
    p = F.col("s").cast("double") / nd
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd))
        / denom
    )
    return agg.select(
        "grp",
        "n",
        F.col("s").alias("successes"),
        p.alias("p_hat"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    )


def wilson_ci_oracle(
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    threshold: float = 100.0,
    z: float = 1.959963984540054,
) -> str:
    """DuckDB twin of :func:`wilson_ci` (same op sequence)."""
    return f"""
        WITH agg AS (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN {value_col} > {threshold!r} THEN 1 ELSE 0 END)
                      AS BIGINT) AS s
          FROM {table} GROUP BY {group_col}
        )
        SELECT grp, n, s AS successes,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
               ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 + {z * z!r} / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + {z * z!r} / CAST(n AS DOUBLE))
               - {z!r} * sqrt((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE)
                   + {z * z!r} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 + {z * z!r} / CAST(n AS DOUBLE)) AS ci_lo,
               ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 + {z * z!r} / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + {z * z!r} / CAST(n AS DOUBLE))
               + {z!r} * sqrt((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE)
                   + {z * z!r} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 + {z * z!r} / CAST(n AS DOUBLE)) AS ci_hi
        FROM agg
    """


def linear_fit2(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group TWO-feature OLS ``y ≈ b0 + b1·x1 + b2·x2`` by Cramer's
    rule over the 3×3 normal equations — the multivariate extension of
    :func:`linear_fit`, still ONE map-side-combined aggregation of
    integer sufficient statistics.

    Determinant terms like ``n·Σx1²·Σx2²`` overflow BIGINT, so the
    3×3 expansion runs on DOUBLES of the exact integer sums — a FIXED
    sequence of exactly-rounded ops, bit-identical in any engine (the
    statistics themselves stay exact BIGINTs; only the solve is in
    floating point, same as the one-feature fit's divisions).

    Output: ``(grp, n, b0, b1, b2)``; groups with a singular normal
    matrix (|det| below 1e-9 of scale) are dropped.
    """
    b = df.select(
        F.col(group_col).alias("grp"),
        F.col(x1_col).cast("bigint").alias("x1"),
        F.col(x2_col).cast("bigint").alias("x2"),
        F.col(y_col).cast("bigint").alias("y"),
    )
    s = b.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    d = {c: F.col(c).cast("double") for c in
         ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")}

    def det3(a, bb, c, dd, e, f, g, h, i):
        return (
            a * (e * i - f * h) - bb * (dd * i - f * g) + c * (dd * h - e * g)
        )

    det = det3(d["n"], d["s1"], d["s2"],
               d["s1"], d["s11"], d["s12"],
               d["s2"], d["s12"], d["s22"])
    det0 = det3(d["sy"], d["s1"], d["s2"],
                d["s1y"], d["s11"], d["s12"],
                d["s2y"], d["s12"], d["s22"])
    det1 = det3(d["n"], d["sy"], d["s2"],
                d["s1"], d["s1y"], d["s12"],
                d["s2"], d["s2y"], d["s22"])
    det2 = det3(d["n"], d["s1"], d["sy"],
                d["s1"], d["s11"], d["s1y"],
                d["s2"], d["s12"], d["s2y"])
    return (
        s.withColumn("det", det)
        .filter(F.abs(F.col("det")) > 1e-9)
        .select(
            "grp",
            "n",
            (det0 / F.col("det")).alias("b0"),
            (det1 / F.col("det")).alias("b1"),
            (det2 / F.col("det")).alias("b2"),
        )
    )


def linear_fit2_oracle(
    source_sql: str, group_col: str, x1_col: str, x2_col: str, y_col: str
) -> str:
    """DuckDB twin of :func:`linear_fit2` (same op sequence)."""

    def det3(a, b, c, d, e, f, g, h, i):
        return (
            f"({a} * ({e} * {i} - {f} * {h})"
            f" - {b} * ({d} * {i} - {f} * {g})"
            f" + {c} * ({d} * {h} - {e} * {g}))"
        )

    cols = {k: f"CAST({k} AS DOUBLE)" for k in
            ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")}
    det = det3(cols["n"], cols["s1"], cols["s2"],
               cols["s1"], cols["s11"], cols["s12"],
               cols["s2"], cols["s12"], cols["s22"])
    det0 = det3(cols["sy"], cols["s1"], cols["s2"],
                cols["s1y"], cols["s11"], cols["s12"],
                cols["s2y"], cols["s12"], cols["s22"])
    det1 = det3(cols["n"], cols["sy"], cols["s2"],
                cols["s1"], cols["s1y"], cols["s12"],
                cols["s2"], cols["s2y"], cols["s22"])
    det2 = det3(cols["n"], cols["s1"], cols["sy"],
                cols["s1"], cols["s11"], cols["s1y"],
                cols["s2"], cols["s12"], cols["s2y"])
    return f"""
        WITH s AS (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST({x1_col} AS BIGINT)) AS BIGINT) AS s1,
                 CAST(SUM(CAST({x2_col} AS BIGINT)) AS BIGINT) AS s2,
                 CAST(SUM(CAST({y_col} AS BIGINT)) AS BIGINT) AS sy,
                 CAST(SUM(CAST({x1_col} AS BIGINT) * CAST({x1_col} AS BIGINT))
                      AS BIGINT) AS s11,
                 CAST(SUM(CAST({x1_col} AS BIGINT) * CAST({x2_col} AS BIGINT))
                      AS BIGINT) AS s12,
                 CAST(SUM(CAST({x2_col} AS BIGINT) * CAST({x2_col} AS BIGINT))
                      AS BIGINT) AS s22,
                 CAST(SUM(CAST({x1_col} AS BIGINT) * CAST({y_col} AS BIGINT))
                      AS BIGINT) AS s1y,
                 CAST(SUM(CAST({x2_col} AS BIGINT) * CAST({y_col} AS BIGINT))
                      AS BIGINT) AS s2y
          FROM ({source_sql}) GROUP BY 1
        )
        SELECT grp, n,
               {det0} / {det} AS b0,
               {det1} / {det} AS b1,
               {det2} / {det} AS b2
        FROM s WHERE abs({det}) > 1e-9
    """


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Rank-based quantile normalization: replace each value with the
    POOLED distribution's value at the same within-group percentile —
    the transform that puts per-source feature distributions on one
    scale (bioinformatics' quantile normalization; the heavy-duty
    sibling of z-scoring that matches the whole CDF, not two moments).

    Per row: within-group ``percent_rank`` → target position
    ``pr·(N−1)+1`` in the globally sorted pooled values → linear
    interpolation between the two straddling order statistics (a 2-way
    join on the integer positions). All arithmetic is a fixed
    exactly-rounded double sequence over exact integer ranks; ties take
    the standard PERCENT_RANK semantics identically in both engines.

    Scale: one per-group window, one DISTRIBUTED two-phase rank of the
    pooled values (range-partitioned; no single-partition window) —
    plus two equi-joins on integer positions. Output: ``(grp, id,
    value, value_norm)``.
    """
    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
    )
    from flink_example_spark.operators.distrank import dist_row_number

    wg = Window.partitionBy("grp").orderBy("v", "id")
    # global pooled rank via the distributed two-phase device (ties in v
    # are interchangeable: only (rn -> v) is consumed downstream)
    pooled = dist_row_number(rows.select("v"), ["v"], "rn")
    n_pool = rows.count()
    ranked = rows.withColumn("pr", F.percent_rank().over(wg))
    pos = ranked.withColumn(
        "posd", F.col("pr") * F.lit(float(n_pool - 1)) + F.lit(1.0)
    ).withColumn("lo", F.floor(F.col("posd")).cast("bigint")).withColumn(
        "frac", F.col("posd") - F.col("lo").cast("double")
    ).withColumn(
        "hi", F.least(F.col("lo") + 1, F.lit(n_pool).cast("bigint"))
    )
    out = (
        pos.join(pooled.select(F.col("rn").alias("lo"), F.col("v").alias("vlo")), "lo")
        .join(pooled.select(F.col("rn").alias("hi"), F.col("v").alias("vhi")), "hi")
        .select(
            "grp",
            "id",
            F.col("v").alias(value_col),
            (
                F.col("vlo") + (F.col("vhi") - F.col("vlo")) * F.col("frac")
            ).alias("value_norm"),
        )
    )
    return out


def quantile_normalize_oracle(
    table: str, group_col: str, id_col: str, value_col: str
) -> str:
    """DuckDB twin of :func:`quantile_normalize`."""
    return f"""
        WITH rows_ AS MATERIALIZED (
          SELECT {group_col} AS grp, {id_col} AS id,
                 CAST({value_col} AS DOUBLE) AS v
          FROM {table} WHERE {value_col} IS NOT NULL
        ), pooled AS MATERIALIZED (
          SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v) AS BIGINT) AS rn
          FROM rows_
        ), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rows_),
        pos AS (
          SELECT grp, id, v,
                 PERCENT_RANK() OVER (PARTITION BY grp ORDER BY v, id)
                   * CAST(n - 1 AS DOUBLE) + 1.0 AS posd,
                 n
          FROM rows_ CROSS JOIN np
        ), pos2 AS (
          SELECT grp, id, v,
                 CAST(floor(posd) AS BIGINT) AS lo,
                 posd - CAST(CAST(floor(posd) AS BIGINT) AS DOUBLE) AS frac,
                 least(CAST(floor(posd) AS BIGINT) + 1, n) AS hi
          FROM pos
        )
        SELECT p.grp, p.id, p.v AS {value_col},
               plo.v + (phi.v - plo.v) * p.frac AS value_norm
        FROM pos2 p
        JOIN pooled plo ON plo.rn = p.lo
        JOIN pooled phi ON phi.rn = p.hi
    """


def decision_stump(
    df: DataFrame,
    feature_col: str,
    label_pred: Column,
    group_col: str | None = None,
    scale: int = 100,
) -> DataFrame:
    """Optimal depth-1 decision tree (CART stump) on one numeric feature
    against a boolean label: the exact threshold minimizing weighted Gini
    impurity — the base learner of every boosted-tree pipeline, and the
    classic "is this feature predictive at all" screen.

    Exhaustive and exact, not greedy-sampled: candidate cuts are ALL
    distinct quantized feature values; per-value (count, positives) are
    aggregated once, prefix sums over the ordered distinct-value relation
    give each cut's left/right contingency in one window pass, and the
    weighted-Gini cost comes out as EXACT integers cross-multiplied —
    ``cost * n_l * n_r = n_r*(n_l^2 - pos_l^2 - neg_l^2) + n_l*(n_r^2 -
    pos_r^2 - neg_r^2)`` — divided ONCE into a double per cut (identical
    IEEE division in any engine), argmin by (cost, cut) row_number.

    Scale: one (group, value) aggregation, one ordered window over the
    DISTINCT-value relation (value-cardinality-sized — the planner-shape
    device of layout.range_partition_plan), one top-1 window. Overflow
    bound: n^2 * n < 2^63 per group -> n to ~2e6 rows/group; quantize
    coarser past that.

    Output per group: ``(group, cut_q, n_l, pos_l, n_r, pos_r, gini_cost)``
    where ``cut_q`` is the quantized threshold (x <= cut_q goes left).
    """
    from pyspark.sql import Window

    g = F.lit("all") if group_col is None else F.col(group_col)
    per_v = (
        df.filter(F.col(feature_col).isNotNull())
        .select(
            g.alias("grp"),
            F.floor(F.col(feature_col) * scale + F.lit(0.5))
            .cast("bigint")
            .alias("xq"),
            F.when(label_pred, 1).otherwise(0).cast("bigint").alias("y"),
        )
        .groupBy("grp", "xq")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("y").alias("p"))
    )
    w = Window.partitionBy("grp").orderBy("xq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("grp").orderBy("xq").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cuts = per_v.select(
        "grp",
        "xq",
        F.sum("c").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
        F.sum("c").over(wt).alias("n"),
        F.sum("p").over(wt).alias("p_tot"),
    ).filter(F.col("nl") < F.col("n"))  # a cut must leave a right side
    scored = cuts.select(
        "grp",
        "xq",
        "nl",
        "pl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("p_tot") - F.col("pl")).alias("pr"),
    ).select(
        "grp",
        "xq",
        "nl",
        "pl",
        "nr",
        "pr",
        (
            (
                F.col("nr")
                * (
                    F.col("nl") * F.col("nl")
                    - F.col("pl") * F.col("pl")
                    - (F.col("nl") - F.col("pl")) * (F.col("nl") - F.col("pl"))
                )
                + F.col("nl")
                * (
                    F.col("nr") * F.col("nr")
                    - F.col("pr") * F.col("pr")
                    - (F.col("nr") - F.col("pr")) * (F.col("nr") - F.col("pr"))
                )
            ).cast("double")
            / (F.col("nl") * F.col("nr")).cast("double")
        ).alias("gini_cost"),
    )
    top = Window.partitionBy("grp").orderBy("gini_cost", "xq")
    return (
        scored.withColumn("__rn", F.row_number().over(top))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("grp").alias(group_col or "grp"),
            F.col("xq").alias("cut_q"),
            F.col("nl").alias("n_l"),
            F.col("pl").alias("pos_l"),
            F.col("nr").alias("n_r"),
            F.col("pr").alias("pos_r"),
            "gini_cost",
        )
    )


def decision_stump_oracle(
    table: str,
    feature_col: str,
    label_sql: str,
    group_col: str | None = None,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`decision_stump`. ``label_sql``: boolean SQL
    expression over the table's columns."""
    g = "'all'" if group_col is None else group_col
    out_g = group_col or "grp"
    return f"""
        WITH per_v AS (
          SELECT {g} AS grp,
                 CAST(floor({feature_col} * {scale} + 0.5) AS BIGINT) AS xq,
                 CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM {table} WHERE {feature_col} IS NOT NULL GROUP BY 1, 2
        ), cuts AS (
          SELECT grp, xq,
                 CAST(SUM(c) OVER (PARTITION BY grp ORDER BY xq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
                 CAST(SUM(p) OVER (PARTITION BY grp ORDER BY xq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl,
                 CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n,
                 CAST(SUM(p) OVER (PARTITION BY grp) AS BIGINT) AS p_tot
          FROM per_v
        ), scored AS (
          SELECT grp, xq, nl, pl, n - nl AS nr, p_tot - pl AS pr,
                 CAST(
                   (n - nl) * (nl * nl - pl * pl - (nl - pl) * (nl - pl))
                   + nl * ((n - nl) * (n - nl) - (p_tot - pl) * (p_tot - pl)
                           - ((n - nl) - (p_tot - pl)) * ((n - nl) - (p_tot - pl)))
                 AS DOUBLE) / CAST(nl * (n - nl) AS DOUBLE) AS gini_cost
          FROM cuts WHERE nl < n
        )
        SELECT grp AS {out_g}, xq AS cut_q, nl AS n_l, pl AS pos_l,
               nr AS n_r, pr AS pos_r, gini_cost
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                                       ORDER BY gini_cost, xq) AS rn
          FROM scored
        ) WHERE rn = 1
    """


def tree_depth2(
    df: DataFrame,
    feature_col: str,
    label_pred: Column,
    scale: int = 100,
) -> DataFrame:
    """Exact depth-2 decision tree: the optimal root stump, then the
    optimal stump WITHIN each side — recursive partitioning as pure
    DataFrame composition (the learned root cut attaches via a broadcast
    cross join of the one-row stump relation, never a driver collect, so
    the whole tree is one lazy plan).

    Same exactness/portability contract as :func:`decision_stump`; the
    child search simply runs the stump machinery with ``group_col`` =
    side. Output: one row per node ``(node in ('root','L','R'), cut_q,
    n_l, pos_l, n_r, pos_r, gini_cost)`` — a leaf-degenerate side (all
    one class or one value) yields no child row, exactly like CART's
    stopping rule.
    """
    root = decision_stump(df, feature_col, label_pred, scale=scale)
    src = df.filter(F.col(feature_col).isNotNull()).select(
        F.col(feature_col).alias("__x"),
        label_pred.alias("__y"),
        F.floor(F.col(feature_col) * scale + F.lit(0.5))
        .cast("bigint")
        .alias("__xq"),
    )
    sided = src.crossJoin(
        F.broadcast(root.select(F.col("cut_q").alias("__root_cut")))
    ).select(
        "__x",
        "__y",
        F.when(F.col("__xq") <= F.col("__root_cut"), F.lit("L"))
        .otherwise(F.lit("R"))
        .alias("side"),
    )
    children = decision_stump(sided, "__x", F.col("__y"), group_col="side", scale=scale)
    out_cols = ["cut_q", "n_l", "pos_l", "n_r", "pos_r", "gini_cost"]
    return root.select(F.lit("root").alias("node"), *out_cols).unionByName(
        children.select(F.col("side").alias("node"), *out_cols)
    )


def tree_depth2_oracle(
    table: str,
    feature_col: str,
    label_sql: str,
    scale: int = 100,
) -> str:
    """DuckDB twin of :func:`tree_depth2` (root oracle nested as a CTE,
    per-side search over the sided relation)."""
    root = decision_stump_oracle(table, feature_col, label_sql, scale=scale)
    sided = f"""(
        SELECT t.*, CASE WHEN CAST(floor(t.{feature_col} * {scale} + 0.5)
                     AS BIGINT) <= root.cut_q THEN 'L' ELSE 'R' END AS side
        FROM {table} t CROSS JOIN root
        WHERE t.{feature_col} IS NOT NULL
    )"""
    children = decision_stump_oracle(sided, feature_col, label_sql, group_col="side", scale=scale)
    return f"""
        WITH root AS MATERIALIZED ({root})
        SELECT 'root' AS node, cut_q, n_l, pos_l, n_r, pos_r, gini_cost
        FROM root
        UNION ALL
        SELECT side AS node, cut_q, n_l, pos_l, n_r, pos_r, gini_cost
        FROM ({children})
    """


def conformal_eval(
    df: DataFrame,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    scale: int = 1000,
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; the
    distribution-free uncertainty wrapper modern eval pipelines put
    around any point model): 3-way deterministic split (train id%3==0,
    calibration ==1, test ==2), per-group OLS fit, calibration quantile
    ``qhat`` = the k-th smallest absolute residual with
    ``k = ceil((n_cal+1)(1-alpha))`` (clamped to n_cal), then the
    guaranteed-coverage check on the test split.

    Portability: residuals quantize to BIGINT milli-units before any
    comparison (the regression_eval device); the quantile is a pure RANK
    pick (row_number over (|resid|, id) — no interpolation), alpha is the
    exact rational ``alpha_num/alpha_den`` and k is integer-ceil'd by
    cross-multiplication. Output per group:
    ``(grp, n_calib, n_test, qhat, n_covered, coverage)`` — coverage
    should be >= 1-alpha in expectation, which the row shows directly.
    """
    did = F.col(id_col)
    train = df.filter(did % 3 == 0)
    calib = df.filter(did % 3 == 1)
    test = df.filter(did % 3 == 2)
    model = linear_fit(train, group_col, x_col, y_col).select(
        F.col("grp").alias("__cf_grp"), "slope", "intercept"
    )

    def _score(part: DataFrame) -> DataFrame:
        return part.join(
            F.broadcast(model), part[group_col] == model["__cf_grp"]
        ).select(
            F.col("__cf_grp").alias("g"),
            F.col(id_col).alias("rid"),
            F.abs(
                F.floor(
                    (
                        F.col(y_col).cast("double")
                        - (
                            F.col("intercept")
                            + F.col("slope") * F.col(x_col).cast("double")
                        )
                    )
                    * scale
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("aeq"),
        )

    cal = _score(calib)
    ncal = cal.groupBy("g").agg(F.count(F.lit(1)).alias("n_calib"))
    w = Window.partitionBy("g").orderBy("aeq", "rid")
    k = F.least(
        F.col("n_calib"),
        F.expr(
            f"((n_calib + 1) * {alpha_den - alpha_num} + {alpha_den} - 1)"
            f" div {alpha_den}"
        ),
    )
    qhat = (
        cal.select("g", "aeq", F.row_number().over(w).alias("rn"))
        .join(F.broadcast(ncal), "g")
        .filter(F.col("rn") == k)
        .select("g", "n_calib", F.col("aeq").alias("q"))
    )
    cov = (
        _score(test)
        .join(F.broadcast(qhat), "g")
        .groupBy("g", "n_calib", "q")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("aeq") <= F.col("q")).cast("bigint")).alias("n_covered"),
        )
    )
    return cov.select(
        F.col("g").alias("grp"),
        "n_calib",
        "n_test",
        (F.col("q").cast("double") / F.lit(float(scale))).alias("qhat"),
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_test").cast("double")).alias(
            "coverage"
        ),
    )


def conformal_eval_oracle(
    source_sql: str,
    id_col: str,
    group_col: str,
    x_col: str,
    y_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`conformal_eval`."""
    fit = linear_fit_oracle(
        f"SELECT * FROM ({source_sql}) WHERE {id_col} % 3 = 0",
        group_col,
        x_col,
        y_col,
    )
    score = (
        "abs(CAST(floor((CAST({y} AS DOUBLE)"
        " - (m.intercept + m.slope * CAST({x} AS DOUBLE)))"
        " * {s} + 0.5) AS BIGINT))"
    ).format(y=y_col, x=x_col, s=scale)
    return f"""
        WITH model AS MATERIALIZED ({fit}),
        cal AS MATERIALIZED (
          SELECT m.grp AS g, t.{id_col} AS rid, {score} AS aeq
          FROM ({source_sql}) t JOIN model m ON t.{group_col} = m.grp
          WHERE t.{id_col} % 3 = 1
        ),
        ncal AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_calib FROM cal GROUP BY g),
        qhat AS (
          SELECT r.g, ncal.n_calib, r.aeq AS q
          FROM (
            SELECT g, aeq,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY aeq, rid) AS rn
            FROM cal
          ) r JOIN ncal ON ncal.g = r.g
          WHERE r.rn = least(ncal.n_calib,
                ((ncal.n_calib + 1) * {alpha_den - alpha_num}
                 + {alpha_den} - 1) // {alpha_den})
        ),
        tst AS (
          SELECT m.grp AS g, {score} AS aeq
          FROM ({source_sql}) t JOIN model m ON t.{group_col} = m.grp
          WHERE t.{id_col} % 3 = 2
        )
        SELECT qhat.g AS grp, qhat.n_calib,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(qhat.q AS DOUBLE) / {float(scale)!r} AS qhat,
               CAST(SUM(CASE WHEN tst.aeq <= qhat.q THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN tst.aeq <= qhat.q THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS coverage
        FROM tst JOIN qhat ON qhat.g = tst.g
        GROUP BY qhat.g, qhat.n_calib, qhat.q
    """


def feature_importance(
    df: DataFrame,
    features: list[tuple[str, "Column", int]],
    label_pred: Column,
) -> DataFrame:
    """Univariate split-quality feature ranking: run the exact CART stump
    per candidate feature and rank by achieved weighted-Gini cost — the
    screening pass a feature-engineering pipeline runs before training
    anything (a feature whose BEST split barely beats the root impurity
    is noise). ``features``: (name, numeric expression, quantize scale).

    Each stump is the exact exhaustive search of :func:`decision_stump`;
    ranking is deterministic by (gini_cost, name). Output:
    ``(feature, cut_q, n_l, pos_l, n_r, pos_r, gini_cost, rank)``.
    """
    from functools import reduce

    parts = []
    for name, expr, scale in features:
        stump = decision_stump(
            df.select(expr.alias("__f"), label_pred.alias("__y")),
            "__f",
            F.col("__y"),
            scale=scale,
        )
        parts.append(stump.select(F.lit(name).alias("feature"), *stump.columns))
    allf = reduce(lambda a, b: a.unionByName(b), parts)
    # Unpartitioned window is safe here: the ranked relation has exactly
    # len(features) rows (one best stump per screened feature), bounded by
    # the caller's feature list — never data-scaled.
    w = Window.orderBy("gini_cost", "feature")
    return allf.select(
        "feature",
        "cut_q",
        "n_l",
        "pos_l",
        "n_r",
        "pos_r",
        "gini_cost",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def feature_importance_oracle(
    table: str,
    features: list[tuple[str, str, int]],
    label_sql: str,
) -> str:
    """DuckDB twin of :func:`feature_importance`. ``features``:
    (name, SQL expression, scale)."""
    parts = []
    for name, expr, scale in features:
        stump = decision_stump_oracle(
            f"(SELECT ({expr}) AS __f, ({label_sql}) AS __y FROM {table})",
            "__f",
            "__y",
            scale=scale,
        )
        parts.append(f"SELECT '{name}' AS feature, s.* FROM ({stump}) s")
    union = " UNION ALL ".join(parts)
    return f"""
        SELECT feature, cut_q, n_l, pos_l, n_r, pos_r, gini_cost,
               CAST(ROW_NUMBER() OVER (ORDER BY gini_cost, feature)
                    AS BIGINT) AS rank
        FROM ({union})
    """


# ---------------------------------------------------------------------------
# Integer batch perceptron — an iterative linear CLASSIFIER trained wholly
# in 64-bit integer arithmetic (the learner sibling of graph.pagerank /
# similarity.pca_power: data-sized work per round is one join + one
# aggregation; the model relation is dimension-sized).


def _perceptron_feats(
    documents: DataFrame, holdout_mod: int, train: bool
) -> DataFrame:
    """(id, y, j, x) exploded integer feature relation for the lang=='en'
    task: bias, token count, n_chars div 8, count of 'the', distinct
    tokens. All BIGINT; label y = +1 for 'en' else -1; split on
    ``doc_id % holdout_mod``."""
    from flink_example_spark.operators.text import normalized, tokens

    tok = documents.select(
        F.col("doc_id").alias("id"),
        F.explode(tokens(normalized(F.col("text")))).alias("t"),
    ).filter(F.col("t") != "")
    ta = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("t") == "the", 1).otherwise(0)).alias("n_the"),
        F.countDistinct("t").alias("n_dist"),
    )
    keep = (
        (F.col("doc_id") % holdout_mod != 0)
        if train
        else (F.col("doc_id") % holdout_mod == 0)
    )
    base = (
        documents.filter(keep)
        .select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1).otherwise(-1).cast("long").alias("y"),
            F.expr("CAST(n_chars AS BIGINT) div 8").alias("nc8"),
        )
        .join(ta, "id", "left")
        .select(
            "id",
            "y",
            F.array(
                F.lit(1).cast("long"),
                F.coalesce("n_tok", F.lit(0)).cast("long"),
                F.col("nc8"),
                F.coalesce("n_the", F.lit(0)).cast("long"),
                F.coalesce("n_dist", F.lit(0)).cast("long"),
            ).alias("__xs"),
        )
    )
    return base.select(
        "id", "y", F.posexplode("__xs").alias("j", "x")
    )


def perceptron_train(
    documents: DataFrame, n_rounds: int = 6, holdout_mod: int = 5
) -> DataFrame:
    """Batch perceptron over integer document features: each round scores
    every training row with the current weights (one broadcast join + one
    per-row sum), collects the misclassified set (margin ``y·(w·x) <= 0``),
    and adds ``Σ y·x`` over it to the weights — the classic batch update,
    with NO learning rate (perceptron updates are scale-free). Everything
    is BIGINT: features are counts, weights integer sums of counts, margins
    integer dot products — any engine reproduces the trajectory bit-for-
    bit (overflow bound: |w| grows ≤ rounds·Σ|x| ≈ 1e6-ish per feature at
    harness scale; margins ≤ dims·|w|·|x| ≪ 2^63).

    Output: ``(j, weight, n_miss)`` — the final weight per feature index
    plus the final round's misclassified count (the training-error
    signal), dimension-sized.

    Scale: the exploded feature relation shuffles once (checkpointed);
    each round is one broadcast-weights join + id-grouped margin sum +
    one dimension-sized aggregation — the Pregel shape, n_rounds barriers.
    """
    feats = _perceptron_feats(documents, holdout_mod, train=True).localCheckpoint()
    spark = documents.sparkSession
    dims = feats.select("j").distinct()
    w = dims.select("j", F.lit(0).cast("long").alias("w"))
    n_miss_col = None
    for _ in range(n_rounds):
        margins = (
            feats.join(F.broadcast(w), "j")
            .groupBy("id", "y")
            .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
            .filter(F.col("y") * F.col("m") <= 0)
            .select("id", "y")
        )
        delta = (
            feats.join(margins.select("id"), "id", "left_semi")
            .groupBy("j")
            .agg(F.sum(F.col("y") * F.col("x")).alias("d"))
        )
        n_miss = margins.agg(F.count(F.lit(1)).alias("n_miss"))
        w = (
            w.join(delta, "j", "left")
            .select(
                "j",
                (F.col("w") + F.coalesce(F.col("d"), F.lit(0)))
                .cast("long")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        n_miss_col = n_miss
    return w.crossJoin(F.broadcast(n_miss_col)).select(
        "j", F.col("w").alias("weight"), F.col("n_miss").cast("long").alias("n_miss")
    )


def perceptron_confusion(
    documents: DataFrame,
    n_rounds: int = 6,
    holdout_mod: int = 5,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Held-out confusion matrix of the trained perceptron: prediction is
    ``sign(w·x)`` (margin 0 predicts -1, deterministically). Output:
    ``(pred, truth, n)`` — at most 4 rows of BIGINTs. Pass a precomputed
    ``perceptron_train`` result as ``weights`` to reuse a shared solve
    (content-identical; the registry's perceptron memo does)."""
    if weights is None:
        weights = perceptron_train(documents, n_rounds, holdout_mod)
    w = weights.select("j", F.col("weight").alias("w"))
    feats = _perceptron_feats(documents, holdout_mod, train=False)
    scored = (
        feats.join(F.broadcast(w), "j")
        .groupBy("id", "y")
        .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
    )
    return (
        scored.select(
            F.when(F.col("m") > 0, 1).otherwise(-1).cast("long").alias("pred"),
            F.col("y").alias("truth"),
        )
        .groupBy("pred", "truth")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_PERC_FEATS_SQL = """
        tok AS MATERIALIZED (
          SELECT doc_id AS id, t FROM (
            SELECT doc_id, unnest(string_split_regex({norm}, '\\s+')) AS t
            FROM documents
          ) WHERE t <> ''
        ),
        ta AS MATERIALIZED (
          SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tok,
                 CAST(SUM(CASE WHEN t = 'the' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_the,
                 CAST(COUNT(DISTINCT t) AS BIGINT) AS n_dist
          FROM tok GROUP BY id
        ),
        base{tag} AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {hm} {op} 0
        ),
        feats{tag} AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base{tag}
          )
        )"""


def _perceptron_rounds_sql(n_rounds: int) -> str:
    rounds = []
    for t in range(1, n_rounds + 1):
        rounds.append(f"""miss{t} AS MATERIALIZED (
          SELECT f.id, f.y FROM feats_tr f JOIN w{t - 1} w USING (j)
          GROUP BY f.id, f.y HAVING f.y * SUM(w.w * f.x) <= 0
        ),
        w{t} AS MATERIALIZED (
          SELECT w.j, CAST(w.w + COALESCE(d.s, 0) AS BIGINT) AS w
          FROM w{t - 1} w LEFT JOIN (
            SELECT f.j, CAST(SUM(f.y * f.x) AS BIGINT) AS s
            FROM feats_tr f JOIN miss{t} m USING (id) GROUP BY f.j
          ) d ON d.j = w.j
        )""")
    return ",\n        ".join(rounds)


def perceptron_train_oracle(n_rounds: int = 6, holdout_mod: int = 5) -> str:
    """DuckDB twin of :func:`perceptron_train` — the batch updates unrolled
    as MATERIALIZED CTEs, all BIGINT."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats = _PERC_FEATS_SQL.format(norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr")
    return f"""
        WITH {feats},
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)}
        SELECT w.j, w.w AS weight,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM miss{n_rounds}) AS n_miss
        FROM w{n_rounds} w
    """


def perceptron_confusion_oracle(n_rounds: int = 6, holdout_mod: int = 5) -> str:
    """DuckDB twin of :func:`perceptron_confusion`."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats_tr = _PERC_FEATS_SQL.format(
        norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr"
    )
    # the holdout split reuses tok/ta from the train CTE chain: only the
    # base/feats pair differs
    return f"""
        WITH {feats_tr},
        base_ho AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {holdout_mod} = 0
        ),
        feats_ho AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base_ho
          )
        ),
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)},
        scored AS (
          SELECT f.id, f.y, CAST(SUM(w.w * f.x) AS BIGINT) AS m
          FROM feats_ho f JOIN w{n_rounds} w USING (j)
          GROUP BY f.id, f.y
        )
        SELECT CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
               y AS truth, CAST(COUNT(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2
    """


def isotonic_fit(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression per key over the
    daily series, via the exact min-max closed form of PAVA:
    ``fit_i = max_{j<=i} min_{k>=i} avg(y_j..y_k)`` — no sequential
    pool-adjacent loop, just one bounded self-join and two running
    window passes, so the whole fit is a Catalyst plan.

    Portability (DESIGN.md quantize-before-cumsum): values quantize to
    1e6-scaled BIGINTs BEFORE the prefix sums (window cumsums over
    doubles are segment-tree-ordered in DuckDB — not portable; integer
    sums are exact in any order). Each range average is then ONE double
    division ``(S_k - S_{j-1}) / ((k-j+1)·1e6)``; running MIN/MAX are
    comparisons. Bit-identical across engines.

    Output: ``(key, day, v, fit)`` — fit is the isotonic value in
    original units.

    Scale: n_days² pairs per key (the daily bucketing bounds n); keys
    parallelize independently. For long series, fit per segment and
    stitch, or bucket coarser.
    """
    day_us = 86_400_000_000
    w_ord = Window.partitionBy("key").orderBy("day")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("key"),
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}").alias("day"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("key", "day")
        .agg(F.max("v").alias("v"))
        .withColumn("vq", F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5)).cast("long"))
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn(
            "s",
            F.sum("vq").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .localCheckpoint()
    )
    a = daily.select(
        "key",
        F.col("rn").alias("j"),
        (F.col("s") - F.col("vq")).alias("s_prev"),
    )
    b = daily.select(
        "key", F.col("rn").alias("k"), F.col("day").alias("day_k"),
        F.col("v").alias("v_k"), F.col("s").alias("s_k"),
    )
    pairs = a.join(b, "key").filter(F.col("k") >= F.col("j")).select(
        "key",
        "j",
        "k",
        "day_k",
        "v_k",
        (
            (F.col("s_k") - F.col("s_prev")).cast("double")
            / ((F.col("k") - F.col("j") + 1).cast("double") * F.lit(1e6))
        ).alias("a_jk"),
    )
    w_min = (
        Window.partitionBy("key", "j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = pairs.withColumn("m", F.min("a_jk").over(w_min))
    w_max = (
        Window.partitionBy("key", "k")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fit = (
        m.withColumn("fit", F.max("m").over(w_max))
        .filter(F.col("j") == F.col("k"))
        .select("key", F.col("day_k").alias("day"), F.col("v_k").alias("v"), "fit")
    )
    return fit


def isotonic_fit_oracle(
    table: str = "events",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`isotonic_fit` (same quantized prefix sums,
    same two running-extreme windows)."""
    day_us = 86_400_000_000
    return f"""
        WITH daily AS MATERIALIZED (
          SELECT key, day, v,
                 CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS vq,
                 CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY day)
                      AS BIGINT) AS rn
          FROM (
            SELECT {key_col} AS key, epoch_us({ts_col}) // {day_us} AS day,
                   MAX(CAST({value_col} AS DOUBLE)) AS v
            FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
          )
        ),
        pref AS MATERIALIZED (
          SELECT key, day, v, vq, rn,
                 CAST(SUM(vq) OVER (PARTITION BY key ORDER BY rn
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
          FROM daily
        ),
        pairs AS MATERIALIZED (
          SELECT a.key, a.rn AS j, b.rn AS k, b.day AS day_k, b.v AS v_k,
                 CAST(b.s - (a.s - a.vq) AS DOUBLE)
                   / (CAST(b.rn - a.rn + 1 AS DOUBLE) * 1e6) AS a_jk
          FROM pref a JOIN pref b ON a.key = b.key AND b.rn >= a.rn
        ),
        mm AS MATERIALIZED (
          SELECT key, j, k, day_k, v_k,
                 MIN(a_jk) OVER (PARTITION BY key, j ORDER BY k DESC
                      ROWS UNBOUNDED PRECEDING) AS m
          FROM pairs
        )
        SELECT key, day_k AS day, v_k AS v, fit FROM (
          SELECT key, j, k, day_k, v_k,
                 MAX(m) OVER (PARTITION BY key, k ORDER BY j
                      ROWS UNBOUNDED PRECEDING) AS fit
          FROM mm
        ) WHERE j = k
    """


def stump_bagging(
    events: DataFrame,
    feature_col: str = "value",
    label_pred: Column | None = None,
    id_col: str = "event_id",
    n_replicates: int = 16,
    scale: int = 100,
    holdout_mod: int = 5,
) -> DataFrame:
    """Bagged decision stumps — the smallest random forest: B Poisson-
    bootstrap replicates (the deterministic md5-CDF multiplicity device of
    :func:`bootstrap_ci`) each train an EXACT weighted Gini stump (the
    prefix-scan split search of :func:`decision_stump`, with replicate as
    the group key and multiplicities as weights), and the ensemble
    classifies the ``id % holdout_mod = 0`` holdout by majority vote.

    Output: the holdout confusion matrix ``(predicted_pos, actual_pos,
    n)`` — variance-reduced vs the single stump's (visible when the two
    confusion matrices are compared), with every count exact BIGINT.

    Scale: the replicate explode is B narrow integer rows per training
    row, collapsing in ONE (b, xq) hash aggregation (map-side partials);
    the split search is per-replicate value-cardinality-sized; inference
    broadcasts B stump rows. Overflow: weighted n³ per replicate < 2^63
    holds to ~2e6 weighted rows/replicate.
    """
    from pyspark.sql import Window

    if label_pred is None:
        label_pred = F.col("event_type") == "error"
    base = events.filter(F.col(feature_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("rid"),
        F.floor(F.col(feature_col) * scale + F.lit(0.5)).cast("bigint").alias("xq"),
        F.when(label_pred, 1).otherwise(0).cast("bigint").alias("y"),
    )
    train = base.filter(F.col("rid") % holdout_mod != 0)
    holdout = base.filter(F.col("rid") % holdout_mod == 0)

    from flink_example_spark.operators.sketch import portable_hash32

    thresholds = _POISSON_THRESHOLDS
    # spread before the B-way explode + per-row md5 (single-file scan rule)
    rep = spread(train, F.col("rid")).select(
        "rid",
        "xq",
        "y",
        F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("b"),
    ).withColumn(
        "h",
        portable_hash32(F.concat_ws("|", F.col("rid").cast("string"), F.col("b"))),
    )
    mult = F.when(F.col("h") < thresholds[0], 0)
    for k, t in enumerate(thresholds[1:], start=1):
        mult = mult.when(F.col("h") < t, k)
    mult = mult.otherwise(len(thresholds))
    per_v = (
        rep.withColumn("m", mult.cast("bigint"))
        .filter(F.col("m") > 0)
        .groupBy("b", "xq")
        .agg(F.sum("m").alias("c"), F.sum(F.col("m") * F.col("y")).alias("p"))
    )
    w = Window.partitionBy("b").orderBy("xq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("b").orderBy("xq").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cuts = per_v.select(
        "b",
        "xq",
        F.sum("c").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
        F.sum("c").over(wt).alias("n"),
        F.sum("p").over(wt).alias("p_tot"),
    ).filter(F.col("nl") < F.col("n"))
    scored = cuts.select(
        "b",
        "xq",
        "nl",
        "pl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("p_tot") - F.col("pl")).alias("pr"),
    ).select(
        "b",
        "xq",
        "nl",
        "pl",
        "nr",
        "pr",
        (
            (
                F.col("nr")
                * (
                    F.col("nl") * F.col("nl")
                    - F.col("pl") * F.col("pl")
                    - (F.col("nl") - F.col("pl")) * (F.col("nl") - F.col("pl"))
                )
                + F.col("nl")
                * (
                    F.col("nr") * F.col("nr")
                    - F.col("pr") * F.col("pr")
                    - (F.col("nr") - F.col("pr")) * (F.col("nr") - F.col("pr"))
                )
            ).cast("double")
            / (F.col("nl") * F.col("nr")).cast("double")
        ).alias("gini_cost"),
    )
    top = Window.partitionBy("b").orderBy("gini_cost", "xq")
    stumps = (
        scored.withColumn("__rn", F.row_number().over(top))
        .filter(F.col("__rn") == 1)
        .select(
            "b",
            F.col("xq").alias("cut_q"),
            (F.lit(2) * F.col("pl") > F.col("nl")).cast("int").alias("left_pos"),
            (F.lit(2) * F.col("pr") > F.col("nr")).cast("int").alias("right_pos"),
        )
    )
    votes = (
        holdout.crossJoin(F.broadcast(stumps))
        .select(
            "rid",
            "y",
            F.when(F.col("xq") <= F.col("cut_q"), F.col("left_pos"))
            .otherwise(F.col("right_pos"))
            .alias("v"),
        )
        .groupBy("rid", "y")
        .agg(F.sum("v").alias("votes"), F.count(F.lit(1)).alias("nb"))
    )
    return (
        votes.select(
            (F.lit(2) * F.col("votes") > F.col("nb")).cast("bigint").alias(
                "predicted_pos"
            ),
            F.col("y").alias("actual_pos"),
        )
        .groupBy("predicted_pos", "actual_pos")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def stump_bagging_oracle(
    table: str = "events",
    feature_col: str = "value",
    label_sql: str = "event_type = 'error'",
    id_col: str = "event_id",
    n_replicates: int = 16,
    scale: int = 100,
    holdout_mod: int = 5,
) -> str:
    """DuckDB twin of :func:`stump_bagging`."""
    t = _POISSON_THRESHOLDS
    mult = (
        "CASE "
        + " ".join(f"WHEN h < {th} THEN {k}" for k, th in enumerate(t))
        + f" ELSE {len(t)} END"
    )
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST({id_col} AS BIGINT) AS rid,
                 CAST(floor({feature_col} * {scale} + 0.5) AS BIGINT) AS xq,
                 CASE WHEN {label_sql} THEN 1 ELSE 0 END AS y
          FROM {table} WHERE {feature_col} IS NOT NULL
        ),
        rep AS (
          SELECT rid, xq, y, b,
                 CAST(concat('0x', substr(md5(CAST(rid AS VARCHAR) || '|' ||
                      CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM base, unnest(range(1, {n_replicates} + 1)) AS r(b)
          WHERE rid % {holdout_mod} <> 0
        ),
        per_v AS MATERIALIZED (
          SELECT b, xq, CAST(SUM(m) AS BIGINT) AS c,
                 CAST(SUM(m * y) AS BIGINT) AS p
          FROM (SELECT rid, xq, y, b, {mult} AS m FROM rep)
          WHERE m > 0 GROUP BY b, xq
        ),
        cuts AS (
          SELECT b, xq,
                 SUM(c) OVER (PARTITION BY b ORDER BY xq
                              ROWS UNBOUNDED PRECEDING) AS nl,
                 SUM(p) OVER (PARTITION BY b ORDER BY xq
                              ROWS UNBOUNDED PRECEDING) AS pl,
                 SUM(c) OVER (PARTITION BY b) AS n,
                 SUM(p) OVER (PARTITION BY b) AS p_tot
          FROM per_v
        ),
        scored AS (
          SELECT b, xq, nl, pl, n - nl AS nr, p_tot - pl AS pr,
                 CAST(
                   (n - nl) * (nl*nl - pl*pl - (nl-pl)*(nl-pl))
                   + nl * ((n-nl)*(n-nl) - (p_tot-pl)*(p_tot-pl)
                           - ((n-nl)-(p_tot-pl))*((n-nl)-(p_tot-pl)))
                 AS DOUBLE) / CAST(nl * (n - nl) AS DOUBLE) AS gini_cost
          FROM cuts WHERE nl < n
        ),
        stumps AS MATERIALIZED (
          SELECT b, xq AS cut_q,
                 CASE WHEN 2*pl > nl THEN 1 ELSE 0 END AS left_pos,
                 CASE WHEN 2*pr > nr THEN 1 ELSE 0 END AS right_pos
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY b
                         ORDER BY gini_cost, xq) AS rn
            FROM scored
          ) WHERE rn = 1
        ),
        votes AS (
          SELECT h.rid, h.y, CAST(SUM(CASE WHEN h.xq <= s.cut_q
                      THEN s.left_pos ELSE s.right_pos END) AS BIGINT) AS votes,
                 CAST(COUNT(*) AS BIGINT) AS nb
          FROM (SELECT * FROM base WHERE rid % {holdout_mod} = 0) h
          CROSS JOIN stumps s
          GROUP BY h.rid, h.y
        )
        SELECT CASE WHEN 2*votes > nb THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS predicted_pos,
               CAST(y AS BIGINT) AS actual_pos,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM votes GROUP BY 1, 2
    """


def ridge_path(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    lambdas: tuple[int, ...] = (0, 4, 16, 64, 256),
) -> DataFrame:
    """Per-group ridge-regression coefficient PATH over a grid of integer
    penalties — the shrinkage curve a feature-calibration pipeline reads
    before trusting an OLS slope (λ=0 reproduces :func:`linear_fit`
    exactly; growing λ pulls the slope toward 0 and moves the intercept
    toward the group mean).

    Closed form on the SAME exact BIGINT sufficient statistics as
    ``linear_fit``: with num = n·Σxy − Σx·Σy and den = n·Σxx − (Σx)²,

        slope(λ)     = num / (den + n²·λ)
        intercept(λ) = (Σy − slope·Σx) / n

    The penalty enters as n²·λ so λ is in per-sample variance units
    (invariant to group size). One double division per (group, λ) —
    exactly-rounded, cross-engine identical. Output: ``(grp, lam, n,
    slope, intercept)``.

    Scale: ONE map-side-combined aggregation over the data; the λ grid
    explodes only the group-count-sized stats relation.
    """
    s = _suff_stats(df, group_col, x_col, y_col).filter(F.col("n") >= 2)
    lam_arr = F.array(*[F.lit(int(v)).cast("bigint") for v in lambdas])
    t = (
        s.select(
            "grp",
            "n",
            "sx",
            "sy",
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
            F.explode(lam_arr).alias("lam"),
        )
        .filter(F.col("den") + F.col("n") * F.col("n") * F.col("lam") > 0)
        .withColumn(
            "slope",
            F.col("num").cast("double")
            / (F.col("den") + F.col("n") * F.col("n") * F.col("lam")).cast("double"),
        )
    )
    return t.select(
        "grp",
        F.col("lam").cast("long").alias("lam"),
        F.col("n").cast("long").alias("n"),
        "slope",
        (
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx")) / F.col("n")
        ).alias("intercept"),
    )


def ridge_path_oracle(
    source_sql: str,
    group_col: str,
    x_col: str,
    y_col: str,
    lambdas: tuple[int, ...] = (0, 4, 16, 64, 256),
) -> str:
    """DuckDB twin of :func:`ridge_path`."""
    lam_list = ", ".join(str(int(v)) for v in lambdas)
    return f"""
        WITH src AS ({source_sql}),
        s AS (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST({x_col} AS BIGINT)) AS BIGINT) AS sx,
                 CAST(SUM(CAST({x_col} AS BIGINT) * CAST({x_col} AS BIGINT))
                   AS BIGINT) AS sxx,
                 CAST(SUM(CAST({y_col} AS BIGINT)) AS BIGINT) AS sy,
                 CAST(SUM(CAST({x_col} AS BIGINT) * CAST({y_col} AS BIGINT))
                   AS BIGINT) AS sxy
          FROM src GROUP BY 1 HAVING COUNT(*) >= 2
        ),
        t AS (
          SELECT grp, n, sx, sy,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS den,
                 lam
          FROM s, unnest([{lam_list}]) AS l(lam)
          WHERE n * sxx - sx * sx + n * n * lam > 0
        ),
        f AS (
          SELECT grp, lam, n, sx, sy,
                 CAST(num AS DOUBLE) / CAST(den + n * n * lam AS DOUBLE) AS slope
          FROM t
        )
        SELECT grp, CAST(lam AS BIGINT) AS lam, n, slope,
               (CAST(sy AS DOUBLE) - slope * sx) / n AS intercept
        FROM f
    """


def _argmin1(scored: DataFrame, order_cols: list, keep_cols: list) -> DataFrame:
    """Global deterministic argmin as ``orderBy().limit(1)`` —
    TakeOrderedAndProject keeps a 1-row heap per partition and merges on
    the driver, never a single-task sort over the candidate relation
    (which scales with feature/value cardinality in the split searches).
    ``order_cols`` must be a total order for a deterministic winner."""
    return scored.orderBy(*order_cols).limit(1).select(*keep_cols)


def gbm_stumps(
    df: DataFrame,
    target_sql: str,
    features: list[tuple[str, str, int]],
    rounds: int = 3,
    lr_den: int = 2,
) -> DataFrame:
    """Gradient-boosted regression stumps under squared loss — the exact
    integer skeleton of every GBDT pipeline (XGBoost/LightGBM's depth-1
    special case), learned end-to-end as one lazy plan per round.

    With L2 loss the negative gradient IS the residual, so boosting is:
    fit the SSE-optimal stump on the current residuals, shrink its leaf
    means by the learning rate, subtract, repeat. Every step stays in
    exact integers:

    - target/features quantize via ``floor(x*scale + 0.5)`` BIGINTs;
    - the base score and both leaf values are truncating divisions
      (Spark ``div`` == DuckDB ``//``, toward zero — the ar2_forecast
      device), with learning rate ``1/lr_den`` folded into the divisor:
      ``leaf = sum_residuals div (lr_den * n_side)``;
    - the split search is the :func:`decision_stump` /
      ``timeseries.changepoint`` prefix-scan: per-(feature, value)
      (count, sum, sum-of-squares) once, windowed prefix sums give every
      cut's side stats, per-side SSE numerator ``n*Q - S^2`` is an exact
      BIGINT divided ONCE into a double per side (identical IEEE
      division in any engine), argmin by (cost, feature, cut).

    The chosen stump attaches to the residual relation via ONE broadcast
    cross join of a one-row relation — no collect; each round's residual
    frame is localCheckpoint-ed (tiny state, the pagerank rule) so plan
    depth stays O(1) per round.

    Output, one row per boosting round: ``(boost_round, feat, cut_q,
    n_l, n_r, leaf_l, leaf_r, sse_after)`` where sse_after is the exact
    BIGINT residual sum-of-squares once the round's correction is
    applied. Overflow bound: per side ``n * (n * y_max^2) < 2^63`` —
    with y quantized to ~1e3 units that is ~2.9e6 rows; quantize the
    target coarser past that.

    Scale: per round, one (feature x value)-sized aggregation (the
    shuffle carries quantized-value cardinality, not rows), one ordered
    window over that distinct-value relation, one broadcast cross join
    back onto the row relation. Rows never shuffle on data keys at all.
    """
    fnames = [name for name, _, _ in features]
    sel = [
        F.expr(f"CAST(floor(({target_sql}) + 0.5) AS BIGINT)").alias("yq")
    ] + [
        F.expr(f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)").alias(name)
        for name, expr, scale in features
    ]
    base = df.select(*sel).filter(F.col("yq").isNotNull())
    for n in fnames:
        base = base.filter(F.col(n).isNotNull())
    f0 = base.agg(F.expr("sum(yq) div count(1)").alias("f0"))
    resid = (
        base.crossJoin(F.broadcast(f0))
        .select(*fnames, (F.col("yq") - F.col("f0")).alias("r"))
        .localCheckpoint(eager=False)
    )
    stack_expr = (
        f"stack({len(fnames)}, "
        + ", ".join(f"'{n}', {n}" for n in fnames)
        + ") AS (feat, xq)"
    )
    wl = Window.partitionBy("feat").orderBy("xq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("feat").orderBy("xq").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out_rows = []
    for m in range(1, rounds + 1):
        long = resid.selectExpr(stack_expr, "r")
        pv = long.groupBy("feat", "xq").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("r").alias("s0"),
            F.sum(F.col("r") * F.col("r")).alias("q0"),
        )
        cuts = pv.select(
            "feat",
            "xq",
            F.sum("c").over(wl).alias("nl"),
            F.sum("s0").over(wl).alias("sl"),
            F.sum("q0").over(wl).alias("ql"),
            F.sum("c").over(wt).alias("n"),
            F.sum("s0").over(wt).alias("s"),
            F.sum("q0").over(wt).alias("q"),
        ).filter(F.col("nl") < F.col("n"))
        nr = F.col("n") - F.col("nl")
        sr = F.col("s") - F.col("sl")
        qr = F.col("q") - F.col("ql")
        scored = cuts.select(
            "feat",
            "xq",
            "nl",
            nr.alias("nr"),
            F.expr(f"sl div ({lr_den} * nl)").alias("leaf_l"),
            (
                (F.col("nl") * F.col("ql") - F.col("sl") * F.col("sl")).cast(
                    "double"
                )
                / F.col("nl").cast("double")
                + (nr * qr - sr * sr).cast("double") / nr.cast("double")
            ).alias("cost"),
            F.expr(f"(s - sl) div ({lr_den} * (n - nl))").alias("leaf_r"),
        )
        best = _argmin1(
            scored,
            ["cost", "feat", "xq"],
            ["feat", F.col("xq").alias("cut_q"), "nl", "nr", "leaf_l", "leaf_r"],
        ).localCheckpoint(eager=False)
        chosen = F.coalesce(
            *[
                F.when(F.col("feat") == n, F.col(n))
                for n in fnames
            ]
        )
        resid = (
            resid.crossJoin(F.broadcast(best))
            .select(
                *fnames,
                (
                    F.col("r")
                    - F.when(chosen <= F.col("cut_q"), F.col("leaf_l")).otherwise(
                        F.col("leaf_r")
                    )
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
        sse = resid.agg(F.sum(F.col("r") * F.col("r")).alias("sse_after"))
        out_rows.append(
            best.crossJoin(F.broadcast(sse)).select(
                F.lit(m).alias("boost_round"),
                "feat",
                "cut_q",
                F.col("nl").alias("n_l"),
                F.col("nr").alias("n_r"),
                "leaf_l",
                "leaf_r",
                "sse_after",
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out


def gbm_stumps_oracle(
    source_sql: str,
    target_sql: str,
    features: list[tuple[str, str, int]],
    rounds: int = 3,
    lr_den: int = 2,
) -> str:
    """DuckDB twin of :func:`gbm_stumps` — unrolled per-round CTE chain,
    every round MATERIALIZED (each feeds two consumers; the round-6 BPE
    exponential-inlining rule), ``//`` truncation matching Spark ``div``."""
    fnames = [name for name, _, _ in features]
    fsel = ", ".join(
        f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT) AS {name}"
        for name, expr, scale in features
    )
    notnull = " AND ".join([f"({target_sql}) IS NOT NULL"] + [
        f"({expr}) IS NOT NULL" for _, expr, _ in features
    ])
    long_union = " UNION ALL ".join(
        f"SELECT '{n}' AS feat, {n} AS xq, r FROM r{{m}}" for n in fnames
    )
    chosen = "CASE b.feat " + " ".join(
        f"WHEN '{n}' THEN {n}" for n in fnames
    ) + " END"
    parts = [
        f"""WITH base AS MATERIALIZED (
          SELECT CAST(floor(({target_sql}) + 0.5) AS BIGINT) AS yq, {fsel}
          FROM ({source_sql}) WHERE {notnull}
        ),
        r0 AS MATERIALIZED (
          SELECT {', '.join(fnames)},
                 yq - (SELECT CAST(SUM(yq) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                       FROM base) AS r
          FROM base
        )"""
    ]
    for m in range(1, rounds + 1):
        p = m - 1
        lu = long_union.format(m=p)
        parts.append(f"""long{m} AS ({lu}),
        pv{m} AS (
          SELECT feat, xq, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(r) AS BIGINT) AS s0,
                 CAST(SUM(r*r) AS BIGINT) AS q0
          FROM long{m} GROUP BY 1, 2
        ),
        cuts{m} AS (
          SELECT feat, xq,
                 CAST(SUM(c) OVER w AS BIGINT) AS nl,
                 CAST(SUM(s0) OVER w AS BIGINT) AS sl,
                 CAST(SUM(q0) OVER w AS BIGINT) AS ql,
                 CAST(SUM(c) OVER t AS BIGINT) AS n,
                 CAST(SUM(s0) OVER t AS BIGINT) AS s,
                 CAST(SUM(q0) OVER t AS BIGINT) AS q
          FROM pv{m}
          WINDOW w AS (PARTITION BY feat ORDER BY xq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 t AS (PARTITION BY feat)
        ),
        best{m} AS MATERIALIZED (
          SELECT feat, xq AS cut_q, nl, n - nl AS nr,
                 sl // ({lr_den} * nl) AS leaf_l,
                 (s - sl) // ({lr_den} * (n - nl)) AS leaf_r
          FROM (
            SELECT *, CAST(nl*ql - sl*sl AS DOUBLE) / CAST(nl AS DOUBLE)
                      + CAST((n-nl)*(q-ql) - (s-sl)*(s-sl) AS DOUBLE)
                        / CAST(n - nl AS DOUBLE) AS cost
            FROM cuts{m} WHERE nl < n
          ) ORDER BY cost, feat, xq LIMIT 1
        ),
        r{m} AS MATERIALIZED (
          SELECT {', '.join(fnames)},
                 r - (CASE WHEN {chosen} <= b.cut_q THEN b.leaf_l
                           ELSE b.leaf_r END) AS r
          FROM r{p}, best{m} b
        ),
        sse{m} AS (SELECT CAST(SUM(r*r) AS BIGINT) AS sse_after FROM r{m})""")
    finals = " UNION ALL ".join(
        f"""SELECT {m} AS boost_round, feat, cut_q, nl AS n_l, nr AS n_r,
               leaf_l, leaf_r, (SELECT sse_after FROM sse{m}) AS sse_after
           FROM best{m}"""
        for m in range(1, rounds + 1)
    )
    return ",\n".join(parts) + f"\n{finals}"


def _sprt_weights(
    p0: float, p1: float, alpha: float, beta: float
) -> tuple[int, int, int, int]:
    """Integer micro-unit SPRT constants, computed ONCE in Python and
    embedded as literals in BOTH engines' plans (the repo's
    driver-embedded-literal device — engine math never touches log)."""
    import math

    w1 = round(math.log(p1 / p0) * 1_000_000)
    w0 = round(math.log((1 - p1) / (1 - p0)) * 1_000_000)
    upper = round(math.log((1 - beta) / alpha) * 1_000_000)
    lower = round(math.log(beta / (1 - alpha)) * 1_000_000)
    return w1, w0, upper, lower


def sprt(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
    success_pred: Column,
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Wald's sequential probability ratio test (1945) per experiment
    arm — the always-valid alternative to a fixed-horizon A/B test: the
    log-likelihood ratio is monitored after EVERY observation and the
    arm stops the moment it crosses a decision boundary, with guaranteed
    type-I/II error (alpha, beta) regardless of when you peek.

    For Bernoulli H0: p = p0 vs H1: p = p1 the running LLR after n
    observations with k successes is ``k*ln(p1/p0) +
    (n-k)*ln((1-p1)/(1-p0))``; decision bounds are ``ln((1-b)/a)`` /
    ``ln(b/(1-a))``. All four transcendentals are computed once in
    Python and embedded as integer micro-unit literals in both engines'
    plans (:func:`_sprt_weights`), so the running LLR is an exact BIGINT
    ``k*w1 + (n-k)*w0`` — no engine log, no float accumulation.

    One ordered window per arm builds (n, k) prefix counts; the first
    boundary crossing is an argmin row_number over flagged rows. Output
    per arm: ``(group, n_total, k_total, llr_final_micro, decision_n,
    decision)`` with decision 'accept_h1' / 'accept_h0' at the FIRST
    crossing (sequential semantics: later data cannot un-decide), or
    'continue' with decision_n NULL when no boundary was hit.

    Scale: arms are independent window partitions; a hot arm bounds the
    sequential scan exactly like any per-key ordered state. The flagged
    relation never leaves the arm's partition.
    """
    w1, w0, upper, lower = _sprt_weights(p0, p1, alpha, beta)
    src = df.select(
        F.col(group_col).alias("grp"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(id_col).alias("oid"),
        success_pred.cast("long").alias("y"),
    )
    w = Window.partitionBy("grp").orderBy("us", "oid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = src.select(
        "grp",
        "us",
        "oid",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("k"),
    ).withColumn(
        "llr",
        F.col("k") * F.lit(w1) + (F.col("n") - F.col("k")) * F.lit(w0),
    )
    wt = Window.partitionBy("grp").orderBy("us", "oid").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # totals ride along; the first crossing is rn=1 over flagged rows
    flagged = run.select(
        "grp",
        "n",
        "llr",
        F.max("n").over(Window.partitionBy("grp")).alias("n_total"),
        F.max("k").over(Window.partitionBy("grp")).alias("k_total"),
        F.last("llr").over(wt).alias("llr_final"),
        F.when(F.col("llr") >= upper, F.lit("accept_h1"))
        .when(F.col("llr") <= lower, F.lit("accept_h0"))
        .alias("hit"),
    )
    wr = Window.partitionBy("grp").orderBy("n")
    first_hit = (
        flagged.filter(F.col("hit").isNotNull())
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select("grp", F.col("n").alias("decision_n"), F.col("hit").alias("decision"))
    )
    totals = flagged.groupBy("grp").agg(
        F.max("n_total").alias("n_total"),
        F.max("k_total").alias("k_total"),
        F.max("llr_final").alias("llr_final_micro"),
    )
    return totals.join(first_hit, "grp", "left").select(
        F.col("grp").alias(group_col),
        "n_total",
        "k_total",
        "llr_final_micro",
        "decision_n",
        F.coalesce(F.col("decision"), F.lit("continue")).alias("decision"),
    )


def sprt_oracle(
    table: str,
    group_col: str,
    ts_col: str,
    id_col: str,
    success_sql: str,
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> str:
    """DuckDB twin of :func:`sprt` (same embedded integer literals)."""
    w1, w0, upper, lower = _sprt_weights(p0, p1, alpha, beta)
    return f"""
        WITH src AS (
          SELECT {group_col} AS grp, epoch_us({ts_col}) AS us,
                 {id_col} AS oid,
                 CAST(CASE WHEN {success_sql} THEN 1 ELSE 0 END AS BIGINT) AS y
          FROM {table}
        ),
        run AS (
          SELECT grp, us, oid,
                 CAST(COUNT(*) OVER w AS BIGINT) AS n,
                 CAST(SUM(y) OVER w AS BIGINT) AS k
          FROM src
          WINDOW w AS (PARTITION BY grp ORDER BY us, oid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        llrs AS (
          SELECT grp, n, k, k * {w1} + (n - k) * {w0} AS llr,
                 CASE WHEN k * {w1} + (n - k) * {w0} >= {upper}
                        THEN 'accept_h1'
                      WHEN k * {w1} + (n - k) * {w0} <= {lower}
                        THEN 'accept_h0' END AS hit
          FROM run
        ),
        totals AS (
          SELECT grp, MAX(n) AS n_total, max_by(k, n) AS k_total,
                 max_by(llr, n) AS llr_final_micro
          FROM llrs GROUP BY 1
        ),
        first_hit AS (
          SELECT grp, n AS decision_n, hit AS decision FROM (
            SELECT grp, n, hit,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY n) AS rn
            FROM llrs WHERE hit IS NOT NULL
          ) WHERE rn = 1
        )
        SELECT t.grp AS {group_col}, t.n_total, t.k_total,
               t.llr_final_micro, f.decision_n,
               COALESCE(f.decision, 'continue') AS decision
        FROM totals t LEFT JOIN first_hit f USING (grp)
    """


def att_strata(
    units: DataFrame,
    stratum_col: str,
    treated_col: str,
    outcome_col: str,
) -> DataFrame:
    """Stratified treatment-effect estimation (exact matching on a
    discrete covariate — Cochran 1968, the identification workhorse
    behind propensity-score SUBCLASSIFICATION): within each stratum the
    treated/control outcome means are compared apples-to-apples, and the
    per-stratum differences combine under treated-population weights to
    the ATT.

    Exact integer arithmetic throughout: outcomes are integer counts, so
    per-stratum means ship as truncating micro-unit divisions
    ``(sum * 1e6) div n`` (the ar2 device) and the ATT aggregates the
    diffs under exact integer weights ``diff_micro * n_t div N_t``. A
    stratum missing either arm is reported with NULL diff and excluded
    from the ATT (standard common-support trimming) — its rows are still
    visible in the output, so the trimmed mass is auditable.

    Output: one row per stratum ``(stratum, n_t, n_c, mean_t_micro,
    mean_c_micro, diff_micro)`` plus the combined row ``stratum IS
    NULL`` carrying the ATT over the common support (NULL, not an
    integer sentinel — a caller-provided stratum value would collide
    with any integer chosen here; same lesson as psi_drift's summary).

    Scale: one (stratum x arm) aggregation over the unit relation, then
    arithmetic on a strata-sized relation. Unit rows shuffle once.
    """
    cells = units.groupBy(
        F.col(stratum_col).alias("stratum"),
        F.col(treated_col).cast("long").alias("t"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(outcome_col).cast("long")).alias("s"),
    )
    strata = cells.groupBy("stratum").agg(
        F.sum(F.when(F.col("t") == 1, F.col("n"))).alias("n_t"),
        F.sum(F.when(F.col("t") == 0, F.col("n"))).alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("s"))).alias("s_t"),
        F.sum(F.when(F.col("t") == 0, F.col("s"))).alias("s_c"),
    )
    scored = strata.select(
        "stratum",
        F.coalesce(F.col("n_t"), F.lit(0)).alias("n_t"),
        F.coalesce(F.col("n_c"), F.lit(0)).alias("n_c"),
        F.expr("CASE WHEN n_t > 0 THEN (s_t * 1000000) div n_t END").alias(
            "mean_t_micro"
        ),
        F.expr("CASE WHEN n_c > 0 THEN (s_c * 1000000) div n_c END").alias(
            "mean_c_micro"
        ),
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 THEN"
            " (s_t * 1000000) div n_t - (s_c * 1000000) div n_c END"
        ).alias("diff_micro"),
    )
    att = scored.filter(F.col("diff_micro").isNotNull()).agg(
        F.lit(None).cast("long").alias("stratum"),
        F.sum("n_t").alias("n_t"),
        F.sum("n_c").alias("n_c"),
        F.lit(None).cast("long").alias("mean_t_micro"),
        F.lit(None).cast("long").alias("mean_c_micro"),
        F.expr("sum(diff_micro * n_t) div sum(n_t)").alias("diff_micro"),
    )
    return scored.unionByName(att)


def att_strata_oracle(
    units_sql: str,
    stratum_col: str,
    treated_col: str,
    outcome_col: str,
) -> str:
    """DuckDB twin of :func:`att_strata`."""
    return f"""
        WITH cells AS (
          SELECT {stratum_col} AS stratum,
                 CAST({treated_col} AS BIGINT) AS t,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST({outcome_col} AS BIGINT)) AS BIGINT) AS s
          FROM ({units_sql}) GROUP BY 1, 2
        ),
        strata AS (
          SELECT stratum,
                 COALESCE(CAST(SUM(CASE WHEN t = 1 THEN n END) AS BIGINT), 0) AS n_t,
                 COALESCE(CAST(SUM(CASE WHEN t = 0 THEN n END) AS BIGINT), 0) AS n_c,
                 CAST(SUM(CASE WHEN t = 1 THEN s END) AS BIGINT) AS s_t,
                 CAST(SUM(CASE WHEN t = 0 THEN s END) AS BIGINT) AS s_c
          FROM cells GROUP BY 1
        ),
        scored AS (
          SELECT stratum, n_t, n_c,
                 CASE WHEN n_t > 0 THEN (s_t * 1000000) // n_t END AS mean_t_micro,
                 CASE WHEN n_c > 0 THEN (s_c * 1000000) // n_c END AS mean_c_micro,
                 CASE WHEN n_t > 0 AND n_c > 0 THEN
                   (s_t * 1000000) // n_t - (s_c * 1000000) // n_c
                 END AS diff_micro
          FROM strata
        )
        SELECT * FROM scored
        UNION ALL
        SELECT CAST(NULL AS BIGINT), CAST(SUM(n_t) AS BIGINT),
               CAST(SUM(n_c) AS BIGINT), NULL, NULL,
               CAST(SUM(diff_micro * n_t) // SUM(n_t) AS BIGINT)
        FROM scored WHERE diff_micro IS NOT NULL
    """


_IPW_INV = 1_000_000_000  # inverse-propensity weights in 1e9/e units


def ipw_ate(
    units: DataFrame,
    treated_col: str,
    outcome_col: str,
    x_cols: list[str],
    n_steps: int = 8,
    scale_den: int = 16,
    clip_micro: int = 10_000,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Hájek
    estimator) — the model-based complement to :func:`att_strata`'s
    exact subclassification: fit a logistic propensity ``e(x) = P(T=1 |
    x)`` with :func:`logistic_fit`'s bit-reproducible integer descent,
    clip it to ``[clip_micro, 1e6 - clip_micro]`` (standard overlap
    trimming — the clipped count is an audit row), and reweight each
    arm by the inverse (clipped) propensity::

        ATE = sum_T y/e / sum_T 1/e  -  sum_C y/(1-e) / sum_C 1/(1-e)

    Integer discipline end-to-end: the fitted weights are logit-micro
    BIGINTs (driver-known literals — the shared-solve memo shape), each
    unit's propensity is an embedded sigmoid-table lookup, the inverse
    weights are ``1e9 div e`` BIGINTs (non-negative division — portable),
    the four Hájek sums are exact BIGINT aggregates, and the two final
    mean divisions floor identically in Python and DuckDB. An empty arm
    reports mean 0 via the ``max(den, 1)`` guard (arm sizes are audit
    rows, so the degenerate case is visible). Overflow bound: ``sum_arm
    y * (1e9 div clip_micro) * 1e6 < 2^63`` — with the default clip,
    total outcome mass per arm up to ~9.2e7; rescale outcomes or raise
    the clip past that.

    Output (tall, scalar): ``('ate_micro', v)`` (can be negative — it is
    a subtraction of two non-negative divisions, never a negative
    division), ``mean_t_micro``, ``mean_c_micro``, per-weight
    ``('prop_<feature>', w_micro)``, audits ``__n``, ``__n_treated``,
    ``__n_clipped``.

    Scale: one localCheckpoint'd pass over the unit projection;
    ``n_steps`` map-side-combined gradient aggregations (parameter-sized
    results), then ONE scoring aggregation. No shuffle beyond the
    partial-agg merges; state is parameter-sized throughout.
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    data = units.select(
        F.col(treated_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[
            F.col(c).cast("long").alias(f"x{i + 1}")
            for i, c in enumerate(x_cols)
        ],
        F.col(outcome_col).cast("long").alias("yout"),
    ).localCheckpoint()
    w, n = _logistic_weights(data, k, n_steps, scale_den)
    arr = F.array(*[F.lit(v) for v in _SIGMOID_TABLE])
    z = " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(w))
    e_raw = F.element_at(arr, F.expr(_sig_bucket_sql(z)).cast("int"))
    lo, hi = clip_micro, 1_000_000 - clip_micro
    scored = data.select(
        "y",
        "yout",
        F.greatest(F.least(e_raw, F.lit(hi)), F.lit(lo))
        .cast("long")
        .alias("e"),
        ((e_raw < F.lit(lo)) | (e_raw > F.lit(hi)))
        .cast("long")
        .alias("clip"),
    )
    agg = scored.agg(
        F.sum("y").alias("nt"),
        F.sum("clip").alias("nclip"),
        F.sum(
            F.expr(f"CASE WHEN y = 1 THEN yout * ({_IPW_INV} div e) ELSE 0 END")
        ).alias("st_num"),
        F.sum(
            F.expr(f"CASE WHEN y = 1 THEN {_IPW_INV} div e ELSE 0 END")
        ).alias("st_den"),
        F.sum(
            F.expr(
                f"CASE WHEN y = 0 THEN yout * ({_IPW_INV} div (1000000 - e))"
                f" ELSE 0 END"
            )
        ).alias("sc_num"),
        F.sum(
            F.expr(
                f"CASE WHEN y = 0 THEN {_IPW_INV} div (1000000 - e) ELSE 0 END"
            )
        ).alias("sc_den"),
    ).first()
    st_num, st_den = int(agg["st_num"] or 0), int(agg["st_den"] or 0)
    sc_num, sc_den = int(agg["sc_num"] or 0), int(agg["sc_den"] or 0)
    # Python // floors like DuckDB // — identical even for negative
    # outcome sums, so the mirror is exact
    mean_t = (st_num * 1_000_000) // max(st_den, 1)
    mean_c = (sc_num * 1_000_000) // max(sc_den, 1)
    rows = (
        [
            ("ate_micro", mean_t - mean_c),
            ("mean_t_micro", mean_t),
            ("mean_c_micro", mean_c),
        ]
        + [(f"prop_{nm}", int(wi)) for nm, wi in zip(names, w)]
        + [
            ("__n", int(n)),
            ("__n_treated", int(agg["nt"] or 0)),
            ("__n_clipped", int(agg["nclip"] or 0)),
        ]
    )
    return local_df(units.sparkSession, rows, "feature string, value long")


def aipw_ate(
    units: DataFrame,
    treated_col: str,
    outcome_col: str,
    x_cols: list[str],
    n_steps: int = 8,
    scale_den: int = 16,
    clip_micro: int = 10_000,
) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect — the estimator
    that completes the causal triad (:func:`att_strata` =
    subclassification, :func:`ipw_ate` = weighting, this = BOTH): an
    outcome model plus an inverse-propensity correction, consistent if
    EITHER is right::

        ATE = mean[ m1(x) - m0(x)
                    + t (y - m1(x)) / e(x)
                    - (1-t)(y - m0(x)) / (1 - e(x)) ]

    The propensity is :func:`logistic_fit`'s bit-reproducible integer
    descent (clipped sigmoid-table lookup, as in :func:`ipw_ate`); the
    outcome models are NONPARAMETRIC per-stratum arm means over the
    exact small-integer covariate vector (strata are bounded by the
    feature-value space — the |x| <= scale_den contract), with the
    GLOBAL arm mean as the fallback for strata missing an arm (counted
    in the ``__n_fallback_units`` audit row).

    Integer discipline: arm means are ``(sum*1e6) div n`` micros; each
    unit's correction is the SIGN-AND-MAGNITUDE division
    ``sign(num) * ((|num| * 1e6) div e)`` (num = y*1e6 - m can be
    negative — the round-8 portable-negative-division rule); the final
    mean is one sign-safe division of the exact BIGINT term sum.
    Overflow bound: ``n * y_max * 1e12 / clip_micro < 2^63`` — with the
    default clip, total outcome mass up to ~9.2e10.

    Output (tall, scalar): ``ate_micro``, ``mean_m1_micro``,
    ``mean_m0_micro`` (population-averaged outcome-model predictions),
    per-weight ``prop_<feature>``, audits ``__n``, ``__n_treated``,
    ``__n_clipped``, ``__n_fallback_units``.

    Scale: one checkpointed unit projection; n_steps gradient
    aggregations; ONE bounded stratum aggregation broadcast back; ONE
    scoring aggregation. No data-sized shuffle beyond partial-agg
    merges.
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    data = units.select(
        F.col(treated_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[
            F.col(c).cast("long").alias(f"x{i + 1}")
            for i, c in enumerate(x_cols)
        ],
        F.col(outcome_col).cast("long").alias("yout"),
    ).localCheckpoint()
    w, n = _logistic_weights(data, k, n_steps, scale_den)
    xs = [f"x{i + 1}" for i in range(len(x_cols))]
    strat = data.groupBy(*xs).agg(
        F.sum(F.expr("CASE WHEN y = 1 THEN yout ELSE 0 END")).alias("s1"),
        F.sum(F.expr("CASE WHEN y = 1 THEN 1 ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN y = 0 THEN yout ELSE 0 END")).alias("s0"),
        F.sum(F.expr("CASE WHEN y = 0 THEN 1 ELSE 0 END")).alias("n0"),
    ).select(
        *xs,
        F.expr("CASE WHEN n1 > 0 THEN (s1 * 1000000) div n1 END").alias(
            "m1_s"
        ),
        F.expr("CASE WHEN n0 > 0 THEN (s0 * 1000000) div n0 END").alias(
            "m0_s"
        ),
    )
    g = data.agg(
        F.expr(
            "(sum(CASE WHEN y = 1 THEN yout ELSE 0 END) * 1000000)"
            " div greatest(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END), 1)"
        ).alias("m1_g"),
        F.expr(
            "(sum(CASE WHEN y = 0 THEN yout ELSE 0 END) * 1000000)"
            " div greatest(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END), 1)"
        ).alias("m0_g"),
    )
    arr = F.array(*[F.lit(v) for v in _SIGMOID_TABLE])
    z = " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(w))
    e_raw = F.element_at(arr, F.expr(_sig_bucket_sql(z)).cast("int"))
    lo, hi = clip_micro, 1_000_000 - clip_micro
    scored = (
        data.join(F.broadcast(strat), xs)
        .crossJoin(F.broadcast(g))
        .select(
            "y",
            "yout",
            F.greatest(F.least(e_raw, F.lit(hi)), F.lit(lo))
            .cast("long")
            .alias("e"),
            ((e_raw < F.lit(lo)) | (e_raw > F.lit(hi)))
            .cast("long")
            .alias("clip"),
            (F.col("m1_s").isNull() | F.col("m0_s").isNull())
            .cast("long")
            .alias("fb"),
            F.coalesce("m1_s", "m1_g").alias("m1"),
            F.coalesce("m0_s", "m0_g").alias("m0"),
        )
    )
    corr = (
        "CASE WHEN y = 1 THEN"
        " (CASE WHEN yout * 1000000 - m1 >= 0 THEN 1 ELSE -1 END)"
        " * ((abs(yout * 1000000 - m1) * 1000000) div e)"
        " ELSE"
        " -(CASE WHEN yout * 1000000 - m0 >= 0 THEN 1 ELSE -1 END)"
        " * ((abs(yout * 1000000 - m0) * 1000000) div (1000000 - e))"
        " END"
    )
    agg = scored.agg(
        F.sum("y").alias("nt"),
        F.sum("clip").alias("nclip"),
        F.sum("fb").alias("nfb"),
        F.sum(F.expr(f"m1 - m0 + ({corr})")).alias("s_terms"),
        F.sum("m1").alias("s_m1"),
        F.sum("m0").alias("s_m0"),
    ).first()
    s_terms = int(agg["s_terms"] or 0)

    def _sdiv(a: int, b: int) -> int:
        # sign-and-magnitude division — the portable form both the SQL
        # twin and this mirror use (Python // would FLOOR negatives)
        return (1 if a >= 0 else -1) * (abs(a) // max(b, 1))

    rows = (
        [
            ("ate_micro", _sdiv(s_terms, n)),
            ("mean_m1_micro", _sdiv(int(agg["s_m1"] or 0), n)),
            ("mean_m0_micro", _sdiv(int(agg["s_m0"] or 0), n)),
        ]
        + [(f"prop_{nm}", int(wi)) for nm, wi in zip(names, w)]
        + [
            ("__n", int(n)),
            ("__n_treated", int(agg["nt"] or 0)),
            ("__n_clipped", int(agg["nclip"] or 0)),
            ("__n_fallback_units", int(agg["nfb"] or 0)),
        ]
    )
    return local_df(units.sparkSession, rows, "feature string, value long")


def overlap_report(
    units: DataFrame,
    treated_col: str,
    x_cols: list[str],
    n_steps: int = 8,
    scale_den: int = 16,
    n_bins: int = 10,
) -> DataFrame:
    """Propensity overlap (positivity) diagnostic — the QA gate before
    trusting :func:`ipw_ate` / :func:`aipw_ate`: histogram the fitted
    propensity by arm. Identification needs BOTH arms represented
    wherever units live; a bin holding only one arm is mass the
    weighting estimators can only reach through clipping (read next to
    their ``__n_clipped`` audit).

    Same propensity machinery as the estimators (integer descent,
    sigmoid-table scoring); bins are ``e_micro * n_bins div 1e6``
    (saturated e = 1e6 clamps into the top bin). One aggregation.

    Output per bin: ``(bin, e_lo_micro, n_treated, n_control,
    one_armed)`` — ``one_armed`` flags the positivity violations.
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    data = units.select(
        F.col(treated_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[
            F.col(c).cast("long").alias(f"x{i + 1}")
            for i, c in enumerate(x_cols)
        ],
    ).localCheckpoint()
    w, _ = _logistic_weights(data, k, n_steps, scale_den)
    arr = F.array(*[F.lit(v) for v in _SIGMOID_TABLE])
    z = " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(w))
    e = F.element_at(arr, F.expr(_sig_bucket_sql(z)).cast("int"))
    b = int(n_bins)
    return (
        data.select("y", (e * F.lit(b)).cast("long").alias("eb"))
        .selectExpr("y", f"least(eb div 1000000, {b - 1}) AS bin")
        .groupBy("bin")
        .agg(
            F.sum("y").alias("n_treated"),
            F.sum(F.lit(1) - F.col("y")).alias("n_control"),
        )
        .select(
            "bin",
            (F.col("bin") * F.lit(1_000_000 // b)).alias("e_lo_micro"),
            "n_treated",
            "n_control",
            (
                (F.col("n_treated") == 0) | (F.col("n_control") == 0)
            ).alias("one_armed"),
        )
    )


def overlap_report_oracle(
    units_sql: str,
    treated_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 8,
    scale_den: int = 16,
    n_bins: int = 10,
) -> str:
    """DuckDB twin of :func:`overlap_report` (shared descent chain,
    identical binning)."""
    parts, _, k = _descent_parts(
        units_sql, treated_sql, x_sqls, n_steps, scale_den
    )
    lit = "[" + ",".join(str(v) for v in _SIGMOID_TABLE) + "]"
    zf = " + ".join(f"d.x{i} * w.w{i}" for i in range(k))
    zc = f"greatest(least({zf}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
    sig = f"({lit})[((({zc}) + {_SIG_CLAMP}) // {_SIG_STEP}) + 1]"
    b = int(n_bins)
    parts.append(
        f"""bins AS MATERIALIZED (
          SELECT least(({sig} * {b}) // 1000000, {b - 1}) AS bin,
                 CAST(SUM(d.y) AS BIGINT) AS n_treated,
                 CAST(SUM(1 - d.y) AS BIGINT) AS n_control
          FROM d, w{n_steps} w GROUP BY 1)"""
    )
    return f"""
        WITH {", ".join(parts)}
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(bin * {1_000_000 // b} AS BIGINT) AS e_lo_micro,
               n_treated, n_control,
               (n_treated = 0 OR n_control = 0) AS one_armed
        FROM bins
    """


def aipw_ate_oracle(
    units_sql: str,
    treated_sql: str,
    outcome_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 8,
    scale_den: int = 16,
    clip_micro: int = 10_000,
) -> str:
    """DuckDB twin of :func:`aipw_ate`: the shared descent chain, the
    stratum/global arm-mean CTEs, and the identical sign-safe per-unit
    correction arithmetic."""
    parts, names, k = _descent_parts(
        units_sql,
        treated_sql,
        x_sqls,
        n_steps,
        scale_den,
        carry_sqls=[("yout", outcome_sql)],
    )
    lit = "[" + ",".join(str(v) for v in _SIGMOID_TABLE) + "]"
    zf = " + ".join(f"d.x{i} * w.w{i}" for i in range(k))
    zc = f"greatest(least({zf}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
    sig = f"({lit})[((({zc}) + {_SIG_CLAMP}) // {_SIG_STEP}) + 1]"
    lo, hi = clip_micro, 1_000_000 - clip_micro
    xs = [f"x{i + 1}" for i in range(len(x_sqls))]
    xl = ", ".join(xs)
    on = " AND ".join(f"d.{c} = strat.{c}" for c in xs)
    parts.append(
        f"""strat AS MATERIALIZED (
          SELECT {xl},
                 CASE WHEN SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) > 0
                      THEN (SUM(CASE WHEN y = 1 THEN yout ELSE 0 END)
                            * 1000000)
                           // SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) END
                   AS m1_s,
                 CASE WHEN SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) > 0
                      THEN (SUM(CASE WHEN y = 0 THEN yout ELSE 0 END)
                            * 1000000)
                           // SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) END
                   AS m0_s
          FROM d GROUP BY {xl}),
        gmeans AS MATERIALIZED (
          SELECT (SUM(CASE WHEN y = 1 THEN yout ELSE 0 END) * 1000000)
                   // greatest(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END), 1)
                   AS m1_g,
                 (SUM(CASE WHEN y = 0 THEN yout ELSE 0 END) * 1000000)
                   // greatest(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END), 1)
                   AS m0_g
          FROM d),
        score AS MATERIALIZED (
          SELECT d.y, d.yout,
                 CAST(greatest(least({sig}, {hi}), {lo}) AS BIGINT) AS e,
                 CASE WHEN {sig} < {lo} OR {sig} > {hi} THEN 1 ELSE 0 END
                   AS clip,
                 CASE WHEN strat.m1_s IS NULL OR strat.m0_s IS NULL
                      THEN 1 ELSE 0 END AS fb,
                 COALESCE(strat.m1_s, gmeans.m1_g) AS m1,
                 COALESCE(strat.m0_s, gmeans.m0_g) AS m0
          FROM d JOIN strat ON {on} CROSS JOIN gmeans,
               w{n_steps} w),
        sums AS MATERIALIZED (
          SELECT CAST(SUM(y) AS BIGINT) AS nt,
                 CAST(SUM(clip) AS BIGINT) AS nclip,
                 CAST(SUM(fb) AS BIGINT) AS nfb,
                 CAST(SUM(m1 - m0
                   + (CASE WHEN y = 1 THEN
                        (CASE WHEN yout * 1000000 - m1 >= 0
                              THEN 1 ELSE -1 END)
                        * ((abs(yout * 1000000 - m1) * 1000000) // e)
                      ELSE
                        -(CASE WHEN yout * 1000000 - m0 >= 0
                               THEN 1 ELSE -1 END)
                        * ((abs(yout * 1000000 - m0) * 1000000)
                           // (1000000 - e))
                      END)) AS BIGINT) AS s_terms,
                 CAST(SUM(m1) AS BIGINT) AS s_m1,
                 CAST(SUM(m0) AS BIGINT) AS s_m0
          FROM score)"""
    )
    weight_rows = " UNION ALL ".join(
        f"SELECT 'prop_{nm}' AS feature, w{i} AS value FROM w{n_steps}"
        for i, nm in enumerate(names)
    )

    def sdiv(a: str) -> str:
        return (
            f"(CASE WHEN {a} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs({a}) // greatest(meta.n, 1))"
        )

    return f"""
        WITH {", ".join(parts)}
        SELECT 'ate_micro' AS feature,
               CAST({sdiv("COALESCE(s_terms, 0)")} AS BIGINT) AS value
        FROM sums, meta
        UNION ALL SELECT 'mean_m1_micro',
          CAST({sdiv("COALESCE(s_m1, 0)")} AS BIGINT) FROM sums, meta
        UNION ALL SELECT 'mean_m0_micro',
          CAST({sdiv("COALESCE(s_m0, 0)")} AS BIGINT) FROM sums, meta
        UNION ALL {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__n_treated', COALESCE(nt, 0) FROM sums
        UNION ALL SELECT '__n_clipped', COALESCE(nclip, 0) FROM sums
        UNION ALL SELECT '__n_fallback_units', COALESCE(nfb, 0) FROM sums
    """


def ipw_ate_oracle(
    units_sql: str,
    treated_sql: str,
    outcome_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 8,
    scale_den: int = 16,
    clip_micro: int = 10_000,
) -> str:
    """DuckDB twin of :func:`ipw_ate`: the propensity descent unrolled
    via the shared :func:`_descent_parts` chain, then one scoring CTE
    evaluating the identical sigmoid-lookup / clip / integer-inverse
    arithmetic."""
    parts, names, k = _descent_parts(
        units_sql,
        treated_sql,
        x_sqls,
        n_steps,
        scale_den,
        carry_sqls=[("yout", outcome_sql)],
    )
    lit = "[" + ",".join(str(v) for v in _SIGMOID_TABLE) + "]"
    zf = " + ".join(f"d.x{i} * w.w{i}" for i in range(k))
    zc = f"greatest(least({zf}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
    sig = f"({lit})[((({zc}) + {_SIG_CLAMP}) // {_SIG_STEP}) + 1]"
    lo, hi = clip_micro, 1_000_000 - clip_micro
    parts.append(
        f"""score AS MATERIALIZED (
          SELECT d.y, d.yout,
                 CAST(greatest(least({sig}, {hi}), {lo}) AS BIGINT) AS e,
                 CASE WHEN {sig} < {lo} OR {sig} > {hi} THEN 1 ELSE 0 END
                   AS clip
          FROM d, w{n_steps} w),
        sums AS MATERIALIZED (
          SELECT CAST(SUM(y) AS BIGINT) AS nt,
                 CAST(SUM(clip) AS BIGINT) AS nclip,
                 CAST(SUM(CASE WHEN y = 1
                           THEN yout * ({_IPW_INV} // e) ELSE 0 END)
                   AS BIGINT) AS st_num,
                 CAST(SUM(CASE WHEN y = 1
                           THEN {_IPW_INV} // e ELSE 0 END)
                   AS BIGINT) AS st_den,
                 CAST(SUM(CASE WHEN y = 0
                           THEN yout * ({_IPW_INV} // (1000000 - e))
                           ELSE 0 END)
                   AS BIGINT) AS sc_num,
                 CAST(SUM(CASE WHEN y = 0
                           THEN {_IPW_INV} // (1000000 - e) ELSE 0 END)
                   AS BIGINT) AS sc_den
          FROM score),
        means AS MATERIALIZED (
          SELECT (COALESCE(st_num, 0) * 1000000)
                   // greatest(COALESCE(st_den, 0), 1) AS mean_t,
                 (COALESCE(sc_num, 0) * 1000000)
                   // greatest(COALESCE(sc_den, 0), 1) AS mean_c,
                 COALESCE(nt, 0) AS nt, COALESCE(nclip, 0) AS nclip
          FROM sums)"""
    )
    weight_rows = " UNION ALL ".join(
        f"SELECT 'prop_{nm}' AS feature, w{i} AS value FROM w{n_steps}"
        for i, nm in enumerate(names)
    )
    return f"""
        WITH {", ".join(parts)}
        SELECT 'ate_micro' AS feature,
               CAST(mean_t - mean_c AS BIGINT) AS value FROM means
        UNION ALL SELECT 'mean_t_micro', CAST(mean_t AS BIGINT) FROM means
        UNION ALL SELECT 'mean_c_micro', CAST(mean_c AS BIGINT) FROM means
        UNION ALL {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__n_treated', nt FROM means
        UNION ALL SELECT '__n_clipped', nclip FROM means
    """


def calibration_bins(
    scored: DataFrame, n_bins: int = 8
) -> DataFrame:
    """Reliability table of a margin-scored binary classifier — the
    calibration audit that decides whether a model's score can gate data
    (a score that isn't monotone in the true positive rate cannot be
    thresholded meaningfully). Input: ``(id, y in {-1, 1}, m)`` with
    INTEGER margins.

    Holdout rows sort by (margin, id) and split into ``n_bins``
    equal-count quantile bands via the exact rank device
    ``(rank - 1) * n_bins div n`` (range_partition_plan's spec — no
    percentile floats). Per band: count, positives, the observed
    positive rate in exact micro units, the margin range, and
    ``mono_break`` = 1 when the band's positive rate fell below the
    previous band's (a calibration violation; a perfectly score-ranked
    model has none). Output: ``(bin, n, n_pos, pos_rate_micro, lo_m,
    hi_m, mono_break)``.

    Scale: one distributed two-phase ranking over the scored relation
    (range-partitioned — no single-partition window), one band
    aggregation, one lag comparison over n_bins rows.
    """
    from flink_example_spark.operators.distrank import dist_row_number

    n_all = scored.agg(F.count(F.lit(1)).alias("n_all"))
    ranked = (
        dist_row_number(scored.select("y", "m", "id"), ["m", "id"], "rk")
        .crossJoin(F.broadcast(n_all))
        .select("y", "m", "rk", "n_all")
    )
    bands = (
        ranked.select(
            F.expr(f"((rk - 1) * {n_bins}) div n_all").alias("bin"),
            "y",
            "m",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.min("m").alias("lo_m"),
            F.max("m").alias("hi_m"),
        )
        .withColumn("pos_rate_micro", F.expr("(n_pos * 1000000) div n"))
    )
    wb = Window.orderBy("bin")
    return bands.select(
        F.col("bin").cast("long").alias("bin"),
        "n",
        "n_pos",
        "pos_rate_micro",
        "lo_m",
        "hi_m",
        F.when(
            F.lag("pos_rate_micro").over(wb) > F.col("pos_rate_micro"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("mono_break"),
    )


def perceptron_calibration_oracle(
    n_rounds: int = 6, holdout_mod: int = 5, n_bins: int = 8
) -> str:
    """DuckDB twin of ``calibration_bins`` over the trained perceptron's
    holdout margins (same CTE scaffold as the confusion oracle)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats_tr = _PERC_FEATS_SQL.format(
        norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr"
    )
    return f"""
        WITH {feats_tr},
        base_ho AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {holdout_mod} = 0
        ),
        feats_ho AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base_ho
          )
        ),
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)},
        scored AS (
          SELECT f.id, f.y, CAST(SUM(w.w * f.x) AS BIGINT) AS m
          FROM feats_ho f JOIN w{n_rounds} w USING (j)
          GROUP BY f.id, f.y
        ),
        ranked AS (
          SELECT y, m,
                 ROW_NUMBER() OVER (ORDER BY m, id) AS rk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_all
          FROM scored
        ),
        bands AS (
          SELECT ((rk - 1) * {n_bins}) // n_all AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
                 CAST(MIN(m) AS BIGINT) AS lo_m,
                 CAST(MAX(m) AS BIGINT) AS hi_m
          FROM ranked GROUP BY 1
        )
        SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
               (n_pos * 1000000) // n AS pos_rate_micro, lo_m, hi_m,
               CAST(CASE WHEN LAG((n_pos * 1000000) // n)
                      OVER (ORDER BY bin) > (n_pos * 1000000) // n
                    THEN 1 ELSE 0 END AS BIGINT) AS mono_break
        FROM bands
    """


def learning_curve(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cuts: tuple[int, ...] = (0, 1, 3, 7),
    n_buckets: int = 16,
    id_col: str = "id",
) -> DataFrame:
    """Sample-efficiency (learning) curve — "how much data does the model
    actually need": OLS fit on NESTED training subsets of growing size,
    each evaluated on the SAME held-out half, in ONE pass over the data.

    Device: units hash into ``n_buckets`` via the repo's engine-portable
    md5 bucket; buckets ``< n_buckets/2`` are training, the rest holdout.
    Because OLS sufficient statistics are a sum monoid (the crossval_eval
    insight), the nested subsets "train ≤ cut" for every cut come from
    ONE per-bucket aggregation + a cumulative combine over the
    bucket-sized relation — k curve points cost one fit. Coefficients
    leave as exact ppm trunc-divisions (the ar2 device); holdout
    residuals are exact integers quantized to milli BEFORE squaring
    (quantize-before-cumsum rule), so the reported SSE is a BIGINT any
    engine reproduces bit-for-bit.

    Output per curve point: ``(train_buckets, n_train, slope_ppm,
    intercept_ppm, n_holdout, holdout_sse_milli2)``.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    base = df.select(
        (h % n_buckets).alias("bkt"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    half = n_buckets // 2
    per_b = (
        base.filter(F.col("bkt") < half)
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    cuts_df = local_df(per_b.sparkSession, [(c,) for c in cuts], "cut long")
    fits = (
        per_b.join(F.broadcast(cuts_df), F.col("bkt") <= F.col("cut"))
        .groupBy("cut")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxx").alias("sxx"),
            F.sum("sxy").alias("sxy"),
        )
        .filter(F.expr("n * sxx - sx * sx > 0"))
        .select(
            "cut",
            "n",
            "sx",
            "sy",
            F.expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)")
            .alias("slope_ppm"),
        )
        .withColumn(
            "intercept_ppm",
            F.expr("(sy * 1000000 - slope_ppm * sx) div n"),
        )
        .select("cut", "n", "slope_ppm", "intercept_ppm")
    )
    ho = base.filter(F.col("bkt") >= half)
    scored = ho.crossJoin(F.broadcast(fits)).select(
        "cut",
        "n",
        "slope_ppm",
        "intercept_ppm",
        F.expr(
            "(y * 1000000 - slope_ppm * x - intercept_ppm) div 1000"
        ).alias("r_milli"),
    )
    return (
        scored.groupBy("cut", "n", "slope_ppm", "intercept_ppm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holdout"),
            F.sum(F.col("r_milli") * F.col("r_milli")).alias(
                "holdout_sse_milli2"
            ),
        )
        .select(
            F.col("cut").alias("train_buckets"),
            F.col("n").alias("n_train"),
            "slope_ppm",
            "intercept_ppm",
            "n_holdout",
            "holdout_sse_milli2",
        )
    )


def learning_curve_oracle(
    units_sql: str,
    x_col: str,
    y_col: str,
    cuts: tuple[int, ...] = (0, 1, 3, 7),
    n_buckets: int = 16,
    id_col: str = "id",
) -> str:
    """DuckDB twin of :func:`learning_curve`."""
    half = n_buckets // 2
    cut_list = ", ".join(str(int(c)) for c in cuts)
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST(concat('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))
                   AS BIGINT) % {n_buckets} AS bkt,
                 CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y
          FROM ({units_sql})
          WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
        ),
        per_b AS (
          SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(x*y) AS BIGINT) AS sxy
          FROM base WHERE bkt < {half} GROUP BY 1
        ),
        fits AS MATERIALIZED (
          SELECT cut, n, slope_ppm,
                 (sy * 1000000 - slope_ppm * sx) // n AS intercept_ppm
          FROM (
            SELECT cut, CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(sx) AS BIGINT) AS sx, CAST(SUM(sy) AS BIGINT) AS sy,
                   CAST(SUM(sxx) AS BIGINT) AS sxx,
                   CAST(SUM(sxy) AS BIGINT) AS sxy,
                   ((CAST(SUM(n) AS BIGINT) * CAST(SUM(sxy) AS BIGINT)
                     - CAST(SUM(sx) AS BIGINT) * CAST(SUM(sy) AS BIGINT))
                    * 1000000)
                   // (CAST(SUM(n) AS BIGINT) * CAST(SUM(sxx) AS BIGINT)
                       - CAST(SUM(sx) AS BIGINT) * CAST(SUM(sx) AS BIGINT))
                     AS slope_ppm
            FROM per_b, unnest([{cut_list}]) AS c(cut)
            WHERE bkt <= cut
            GROUP BY cut
            HAVING CAST(SUM(n) AS BIGINT) * CAST(SUM(sxx) AS BIGINT)
                   - CAST(SUM(sx) AS BIGINT) * CAST(SUM(sx) AS BIGINT) > 0
          )
        ),
        scored AS (
          SELECT cut, n, slope_ppm, intercept_ppm,
                 (y * 1000000 - slope_ppm * x - intercept_ppm) // 1000
                   AS r_milli
          FROM base, fits WHERE bkt >= {half}
        )
        SELECT cut AS train_buckets, n AS n_train, slope_ppm, intercept_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_holdout,
               CAST(SUM(r_milli * r_milli) AS BIGINT) AS holdout_sse_milli2
        FROM scored GROUP BY 1, 2, 3, 4
    """


def shap_linear(
    df: DataFrame,
    a_col: str,
    b_col: str,
    y_col: str,
) -> DataFrame:
    """EXACT Shapley decomposition of explained variance for the
    two-feature linear model — "which feature actually carries the fit":
    each feature's Shapley value averages its marginal R^2 contribution
    over both insertion orders (the unique fair attribution; LMG /
    Shapley regression in the stats literature).

    All FOUR subset models ({}, {a}, {b}, {a,b}) come from ONE pass of
    sufficient statistics (the crossval/learning-curve monoid insight —
    no refits): 1-var fits close over centered cross-products, the 2-var
    fit solves by the ar2 Cramer device in DECIMAL(38), coefficients
    leave as exact ppm trunc-divisions, per-row residuals quantize to
    milli BEFORE squaring, and every subset's R^2 lands as exact ppm
    ``((sst - sse) * 1e6) div sst``. The Shapley averages are then
    half-sums of ppm integers (x2 to stay integral).

    Output one row: ``(n, r2_full_ppm, shap_a_x2ppm, shap_b_x2ppm)``
    where ``shap_a_x2ppm = (r2_a + r2_ab - r2_b)`` in ppm (twice the
    Shapley value, exact) — the pair sums to ``2 * r2_ab`` by
    construction, so the attribution is complete.

    Scale: one aggregation for the stats, one broadcast of the 1-row fit
    relation back onto the rows for the exact SSEs, one final rollup.
    """
    base = df.select(
        F.col(a_col).cast("long").alias("xa"),
        F.col(b_col).cast("long").alias("xb"),
        F.col(y_col).cast("long").alias("yv"),
    ).filter(
        F.col("xa").isNotNull()
        & F.col("xb").isNotNull()
        & F.col("yv").isNotNull()
    ).localCheckpoint(eager=False)
    s = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).alias("sbb"),
        F.sum(F.col("xa") * F.col("xb")).alias("sab"),
        F.sum(F.col("xa") * F.col("yv")).alias("say"),
        F.sum(F.col("xb") * F.col("yv")).alias("sby"),
    )
    c = (
        s.withColumn("caa", F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .withColumn("cbb", F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .withColumn("cab", F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .withColumn("cay", F.col("n") * F.col("say") - F.col("sa") * F.col("sy"))
        .withColumn("cby", F.col("n") * F.col("sby") - F.col("sb") * F.col("sy"))
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    fits = (
        c.filter(
            F.expr("caa > 0 AND cbb > 0")
            & F.expr(
                f"{dec.format('caa')} * {dec.format('cbb')}"
                f" - {dec.format('cab')} * {dec.format('cab')} > 0"
            )
        )
        .withColumn("sl_a_ppm", F.expr(f"CAST(({dec.format('cay')} * 1000000) div {dec.format('caa')} AS BIGINT)"))
        .withColumn("sl_b_ppm", F.expr(f"CAST(({dec.format('cby')} * 1000000) div {dec.format('cbb')} AS BIGINT)"))
        .withColumn(
            "d",
            F.expr(
                f"{dec.format('caa')} * {dec.format('cbb')}"
                f" - {dec.format('cab')} * {dec.format('cab')}"
            ),
        )
        .withColumn(
            "phi_a_ppm",
            F.expr(
                f"CAST((({dec.format('cay')} * {dec.format('cbb')}"
                f" - {dec.format('cby')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn(
            "phi_b_ppm",
            F.expr(
                f"CAST((({dec.format('cby')} * {dec.format('caa')}"
                f" - {dec.format('cay')} * {dec.format('cab')}) * 1000000)"
                " div d AS BIGINT)"
            ),
        )
        .withColumn("mu_cppm", F.expr("(sy * 1000000) div n"))
        .withColumn("c_a_cppm", F.expr("(sy * 1000000 - sl_a_ppm * sa) div n"))
        .withColumn("c_b_cppm", F.expr("(sy * 1000000 - sl_b_ppm * sb) div n"))
        .withColumn(
            "c_ab_cppm",
            F.expr("(sy * 1000000 - phi_a_ppm * sa - phi_b_ppm * sb) div n"),
        )
        .localCheckpoint(eager=False)
    )
    scored = base.crossJoin(
        F.broadcast(
            fits.select(
                "n", "sl_a_ppm", "sl_b_ppm", "phi_a_ppm", "phi_b_ppm",
                "mu_cppm", "c_a_cppm", "c_b_cppm", "c_ab_cppm",
            )
        )
    ).select(
        "n",
        F.expr(_sm_div("yv * 1000000 - mu_cppm", 100000)).alias("r0"),
        F.expr(
            _sm_div("yv * 1000000 - c_a_cppm - sl_a_ppm * xa", 100000)
        ).alias("ra"),
        F.expr(
            _sm_div("yv * 1000000 - c_b_cppm - sl_b_ppm * xb", 100000)
        ).alias("rb"),
        F.expr(
            _sm_div(
                "yv * 1000000 - c_ab_cppm - phi_a_ppm * xa"
                " - phi_b_ppm * xb",
                100000,
            )
        ).alias("rab"),
    )
    sse = scored.groupBy("n").agg(
        F.sum(F.col("r0") * F.col("r0")).alias("sst"),
        F.sum(F.col("ra") * F.col("ra")).alias("ssa"),
        F.sum(F.col("rb") * F.col("rb")).alias("ssb"),
        F.sum(F.col("rab") * F.col("rab")).alias("ssab"),
    )
    r2 = lambda col: f"((sst - {col}) * 1000000) div sst"
    return sse.filter(F.col("sst") > 0).select(
        F.col("n").cast("long").alias("n"),
        F.expr(r2("ssab")).alias("r2_full_ppm"),
        F.expr(f"({r2('ssa')}) + ({r2('ssab')}) - ({r2('ssb')})").alias(
            "shap_a_x2ppm"
        ),
        F.expr(f"({r2('ssb')}) + ({r2('ssab')}) - ({r2('ssa')})").alias(
            "shap_b_x2ppm"
        ),
    )


def shap_linear_oracle(
    units_sql: str, a_col: str, b_col: str, y_col: str
) -> str:
    """DuckDB twin of :func:`shap_linear` (HUGEINT Cramer, ``//``)."""
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST({a_col} AS BIGINT) AS xa, CAST({b_col} AS BIGINT) AS xb,
                 CAST({y_col} AS BIGINT) AS yv
          FROM ({units_sql})
          WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
            AND {y_col} IS NOT NULL
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xa) AS BIGINT) AS sa, CAST(SUM(xb) AS BIGINT) AS sb,
                 CAST(SUM(yv) AS BIGINT) AS sy,
                 CAST(SUM(xa*xa) AS BIGINT) AS saa,
                 CAST(SUM(xb*xb) AS BIGINT) AS sbb,
                 CAST(SUM(xa*xb) AS BIGINT) AS sab,
                 CAST(SUM(xa*yv) AS BIGINT) AS say,
                 CAST(SUM(xb*yv) AS BIGINT) AS sby
          FROM base
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
          SELECT n, sa, sb, sy,
                 CAST((cay * 1000000) // caa AS BIGINT) AS sl_a_ppm,
                 CAST((cby * 1000000) // cbb AS BIGINT) AS sl_b_ppm,
                 CAST(((cay*cbb - cby*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS phi_a_ppm,
                 CAST(((cby*caa - cay*cab) * 1000000)
                      // (caa*cbb - cab*cab) AS BIGINT) AS phi_b_ppm
          FROM ctr
          WHERE caa > 0 AND cbb > 0 AND caa*cbb - cab*cab > 0
        ),
        fits2 AS (
          SELECT *, (sy * 1000000) // n AS mu_cppm,
                 (sy * 1000000 - sl_a_ppm * sa) // n AS c_a_cppm,
                 (sy * 1000000 - sl_b_ppm * sb) // n AS c_b_cppm,
                 (sy * 1000000 - phi_a_ppm * sa - phi_b_ppm * sb) // n
                   AS c_ab_cppm
          FROM fits
        ),
        scored AS (
          SELECT f.n,
                 {_sm_div("yv * 1000000 - mu_cppm", 100000, "//")} AS r0,
                 {_sm_div("yv * 1000000 - c_a_cppm - sl_a_ppm * xa",
                          100000, "//")} AS ra,
                 {_sm_div("yv * 1000000 - c_b_cppm - sl_b_ppm * xb",
                          100000, "//")} AS rb,
                 {_sm_div("yv * 1000000 - c_ab_cppm - phi_a_ppm * xa"
                          " - phi_b_ppm * xb", 100000, "//")} AS rab
          FROM base, fits2 f
        ),
        sse AS (
          SELECT n, CAST(SUM(r0*r0) AS BIGINT) AS sst,
                 CAST(SUM(ra*ra) AS BIGINT) AS ssa,
                 CAST(SUM(rb*rb) AS BIGINT) AS ssb,
                 CAST(SUM(rab*rab) AS BIGINT) AS ssab
          FROM scored GROUP BY 1
        )
        SELECT n,
               ((sst - ssab) * 1000000) // sst AS r2_full_ppm,
               (((sst - ssa) * 1000000) // sst)
                 + (((sst - ssab) * 1000000) // sst)
                 - (((sst - ssb) * 1000000) // sst) AS shap_a_x2ppm,
               (((sst - ssb) * 1000000) // sst)
                 + (((sst - ssab) * 1000000) // sst)
                 - (((sst - ssa) * 1000000) // sst) AS shap_b_x2ppm
        FROM sse WHERE sst > 0
    """


def pr_curve(scored: DataFrame, topn: int = 32) -> DataFrame:
    """Exact precision/recall operating-point sweep — "where do I put the
    threshold": every DISTINCT margin is a candidate cut (predict
    positive when ``m >= thresh``), and one descending prefix scan gives
    each cut's exact confusion counts (the decision-stump prefix-sum
    device pointed at classifier scores). Precision/recall/F1 leave as
    exact ppm trunc-divisions; ``f1_ppm = (2*tp*1e6) div (2*tp+fp+fn)``
    (the harmonic mean's integer closed form). Input: ``(id, y in
    {-1, 1}, m)`` integer margins.

    Output: the ``topn`` best operating points by (f1_ppm DESC,
    thresh_m) — ``(thresh_m, tp, fp, fn, precision_ppm, recall_ppm,
    f1_ppm)``; row 1 is the F1-optimal threshold.

    Scale: one (margin)-grouped aggregation (score-cardinality-sized),
    one DISTRIBUTED two-phase cumsum over the distinct-margin relation
    (``distrank`` — no single-partition window), one top-n
    (TakeOrderedAndProject).
    """
    from flink_example_spark.operators.distrank import dist_cumsum

    per_m = scored.groupBy("m").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("p"),
    )
    tot = per_m.agg(F.sum("p").alias("n_pos"))
    cuts = dist_cumsum(
        per_m, [F.desc("m")], {"n_pred": "c", "tp": "p"}
    ).crossJoin(F.broadcast(tot))
    scored_cuts = cuts.select(
        F.col("m").alias("thresh_m"),
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        F.expr("(tp * 1000000) div n_pred").alias("precision_ppm"),
        F.expr(
            "CASE WHEN n_pos > 0 THEN (tp * 1000000) div n_pos END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2*tp + (n_pred - tp) + (n_pos - tp) > 0 THEN"
            " (2 * tp * 1000000) div (2*tp + (n_pred - tp) + (n_pos - tp))"
            " END"
        ).alias("f1_ppm"),
    )
    return scored_cuts.orderBy(
        F.col("f1_ppm").desc_nulls_last(), "thresh_m"
    ).limit(topn)


def perceptron_pr_curve_oracle(
    n_rounds: int = 6, holdout_mod: int = 5, topn: int = 32
) -> str:
    """DuckDB twin of ``pr_curve`` over the trained perceptron's holdout
    margins."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats_tr = _PERC_FEATS_SQL.format(
        norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr"
    )
    return f"""
        WITH {feats_tr},
        base_ho AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {holdout_mod} = 0
        ),
        feats_ho AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base_ho
          )
        ),
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)},
        scored AS (
          SELECT f.id, f.y, CAST(SUM(w.w * f.x) AS BIGINT) AS m
          FROM feats_ho f JOIN w{n_rounds} w USING (j)
          GROUP BY f.id, f.y
        ),
        per_m AS (
          SELECT m, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM scored GROUP BY 1
        ),
        cuts AS (
          SELECT m,
                 CAST(SUM(c) OVER (ORDER BY m DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_pred,
                 CAST(SUM(p) OVER (ORDER BY m DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS tp,
                 CAST(SUM(p) OVER () AS BIGINT) AS n_pos
          FROM per_m
        )
        SELECT m AS thresh_m, tp, n_pred - tp AS fp, n_pos - tp AS fn,
               (tp * 1000000) // n_pred AS precision_ppm,
               CASE WHEN n_pos > 0 THEN (tp * 1000000) // n_pos END
                 AS recall_ppm,
               CASE WHEN 2*tp + (n_pred - tp) + (n_pos - tp) > 0 THEN
                 (2 * tp * 1000000) // (2*tp + (n_pred - tp) + (n_pos - tp))
               END AS f1_ppm
        FROM cuts
        ORDER BY f1_ppm DESC NULLS LAST, thresh_m
        LIMIT {topn}
    """


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 1,
) -> DataFrame:
    """One-way ANOVA — "does the metric differ across groups at all",
    the k-group generalization of the two-sample test (and the screen
    run before k pairwise comparisons multiply the false-positive rate).

    Exact integer sums of squares: values quantize to ``floor(v*scale +
    0.5)``; with per-group BIGINT sums, ``SSW = Q - sum_g S_g^2/n_g``
    and ``SST = Q - S^2/n`` — each division quantizes to milli units via
    trunc-div BEFORE the subtraction (quantize-before-accumulate), so
    ``ssw_milli`` / ``ssb_milli`` are engine-identical BIGINTs. The F
    statistic ``(ssb/(k-1)) / (ssw/(n-k))`` is a fixed sequence of two
    double divisions and one ratio at the output boundary. Overflow
    bound: ``S_g^2 * 1e3 < 2^63`` per group — quantize coarser once a group's value SUM passes ~3e9 units.

    Output one row: ``(k, n, ssb_milli, ssw_milli, f_stat)``.

    Scale: one grouped aggregation; everything after is group-count-
    sized.
    """
    q = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.expr(
            f"CAST(floor({value_col} * {scale} + 0.5) AS BIGINT)"
        ).alias("vq"),
    )
    per_g = q.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("vq").alias("sg"),
        F.sum(F.col("vq") * F.col("vq")).alias("qg"),
    )
    tot = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(F.expr("(sg * sg * 1000) div ng")).alias("within_sub"),
    )
    scored = tot.filter((F.col("k") >= 2) & (F.col("n") > F.col("k"))).select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        (F.expr("within_sub - (s * s * 1000) div n")).alias("ssb_milli"),
        (F.expr("q * 1000 - within_sub")).alias("ssw_milli"),
    )
    return scored.select(
        "k",
        "n",
        "ssb_milli",
        "ssw_milli",
        (
            (F.col("ssb_milli").cast("double") / (F.col("k") - 1).cast("double"))
            / (
                F.col("ssw_milli").cast("double")
                / (F.col("n") - F.col("k")).cast("double")
            )
        ).alias("f_stat"),
    )


def anova_oneway_oracle(
    table: str, group_col: str, value_col: str, scale: int = 1
) -> str:
    """DuckDB twin of :func:`anova_oneway`."""
    return f"""
        WITH q AS (
          SELECT {group_col} AS g,
                 CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq
          FROM {table} WHERE {value_col} IS NOT NULL
        ),
        per_g AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                 CAST(SUM(vq) AS BIGINT) AS sg,
                 CAST(SUM(vq*vq) AS BIGINT) AS qg
          FROM q GROUP BY 1
        ),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(SUM(sg) AS BIGINT) AS s, CAST(SUM(qg) AS BIGINT) AS q,
                 CAST(SUM((sg * sg * 1000) // ng) AS BIGINT) AS within_sub
          FROM per_g
        )
        SELECT k, n,
               within_sub - (s * s * 1000) // n AS ssb_milli,
               q * 1000 - within_sub AS ssw_milli,
               (CAST(within_sub - (s * s * 1000) // n AS DOUBLE)
                  / CAST(k - 1 AS DOUBLE))
               / (CAST(q * 1000 - within_sub AS DOUBLE)
                  / CAST(n - k AS DOUBLE)) AS f_stat
        FROM tot WHERE k >= 2 AND n > k
    """


def kappa_agreement(
    preds_a: DataFrame, preds_b: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Cohen's kappa between two binary raters — the chance-corrected
    agreement check a pipeline runs before trusting ensemble votes or
    replacing one quality gate with a cheaper one (raw agreement is
    inflated whenever both raters share a majority class; kappa is not).

    Inputs: ``(id, flag)`` relations with BIGINT 0/1 flags. Exact
    integer closed form over the 2x2 table:
    ``kappa = (a*n - r1*c1 - r0*c0) / (n^2 - r1*c1 - r0*c0)`` with
    ``a`` = agreements and r/c the raters' marginals — one ppm trunc-div
    at the boundary. Output one row: ``(n, n_agree, n_both_pos,
    kappa_ppm)``.

    Scale: one equi-join on the unit id + one global rollup.
    """
    j = preds_a.select(F.col(id_col).alias("u"), F.col("flag").alias("fa")).join(
        preds_b.select(F.col(id_col).alias("u"), F.col("flag").alias("fb")),
        "u",
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("fa") == F.col("fb")).cast("long")).alias("a"),
        F.sum("fa").alias("r1"),
        F.sum("fb").alias("c1"),
        F.sum(F.col("fa") * F.col("fb")).alias("bp"),
    )
    pe = F.col("r1") * F.col("c1") + (F.col("n") - F.col("r1")) * (
        F.col("n") - F.col("c1")
    )
    return s.filter(F.col("n") * F.col("n") > pe).select(
        F.col("n").cast("long").alias("n"),
        F.col("a").cast("long").alias("n_agree"),
        F.col("bp").cast("long").alias("n_both_pos"),
        F.expr(
            "((a * n - (r1 * c1 + (n - r1) * (n - c1))) * 1000000)"
            " div (n * n - (r1 * c1 + (n - r1) * (n - c1)))"
        ).alias("kappa_ppm"),
    )


def nb_perceptron_kappa_oracle(
    n_rounds: int = 6, holdout_mod: int = 5
) -> str:
    """DuckDB twin of the NB-vs-perceptron agreement row: both models'
    oracle scaffolds composed, flags = (NB picks 'en') vs (margin > 0)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats_tr = _PERC_FEATS_SQL.format(
        norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr"
    )
    # the two scaffolds both name a CTE `tok`; DuckDB rejects the nested
    # redefinition, so the perceptron's copy is renamed here
    feats_tr = feats_tr.replace("tok AS MATERIALIZED", "ptok AS MATERIALIZED")
    feats_tr = feats_tr.replace("FROM tok", "FROM ptok")
    nb_sql = nb_language_oracle(holdout_mod=holdout_mod)
    return f"""
        WITH {feats_tr},
        base_ho AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {holdout_mod} = 0
        ),
        feats_ho AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base_ho
          )
        ),
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)},
        perc AS (
          SELECT f.id AS u,
                 CAST(CASE WHEN SUM(w.w * f.x) > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS fb
          FROM feats_ho f JOIN w{n_rounds} w USING (j)
          GROUP BY f.id
        ),
        nb AS (
          SELECT doc_id AS u,
                 CAST(CASE WHEN pred_label = 'en' THEN 1 ELSE 0 END AS BIGINT)
                   AS fa
          FROM ({nb_sql})
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN fa = fb THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(SUM(fa) AS BIGINT) AS r1,
                 CAST(SUM(fb) AS BIGINT) AS c1,
                 CAST(SUM(fa * fb) AS BIGINT) AS bp
          FROM nb JOIN perc USING (u)
        )
        SELECT n, a AS n_agree, bp AS n_both_pos,
               ((a * n - (r1 * c1 + (n - r1) * (n - c1))) * 1000000)
                 // (n * n - (r1 * c1 + (n - r1) * (n - c1))) AS kappa_ppm
        FROM s WHERE n * n > r1 * c1 + (n - r1) * (n - c1)
    """


def mcnemar_test(
    preds_a: DataFrame, preds_b: DataFrame, id_col: str = "id"
) -> DataFrame:
    """McNemar's paired comparison — "is model B actually better than
    model A on the SAME units": only the discordant pairs carry signal
    (b = A right / B wrong, c = A wrong / B right), and the test
    statistic ``(b - c)^2 / (b + c)`` is chi-square(1) under the null.
    The paired design cancels unit difficulty — the error-bar-overlap
    fallacy the independent-samples comparison commits.

    Inputs: ``(id, correct)`` relations with BIGINT 0/1 correctness
    flags. Exact integers throughout: b, c, the statistic's milli
    quantization ``((b-c)^2 * 1000) div (b+c)``, plus the continuity-
    corrected variant ``((|b-c|-1)^2 * 1000) div (b+c)`` (Edwards) —
    the chi-square(1) 95% line is 3.841, i.e. 3841 milli. Output one
    row: ``(n, n_b, n_c, chi2_milli, chi2_cc_milli)``.

    Scale: one equi-join + one rollup.
    """
    j = preds_a.select(
        F.col(id_col).alias("u"), F.col("correct").alias("ca")
    ).join(
        preds_b.select(F.col(id_col).alias("u"), F.col("correct").alias("cb")),
        "u",
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("ca") == 1) & (F.col("cb") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("ca") == 0) & (F.col("cb") == 1)).cast("long")).alias("c"),
    )
    return s.filter(F.col("b") + F.col("c") > 0).select(
        F.col("n").cast("long").alias("n"),
        F.col("b").cast("long").alias("n_b"),
        F.col("c").cast("long").alias("n_c"),
        F.expr("((b - c) * (b - c) * 1000) div (b + c)").alias("chi2_milli"),
        F.expr(
            "CASE WHEN abs(b - c) >= 1 THEN"
            " ((abs(b - c) - 1) * (abs(b - c) - 1) * 1000) div (b + c)"
            " ELSE 0 END"
        ).alias("chi2_cc_milli"),
    )


def nb_perceptron_mcnemar_oracle(
    n_rounds: int = 6, holdout_mod: int = 5
) -> str:
    """DuckDB twin of the NB-vs-perceptron McNemar row (same composed
    scaffolds as the kappa oracle; correctness vs the true 'en' label)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    feats_tr = _PERC_FEATS_SQL.format(
        norm=_DUCK_NORM, hm=holdout_mod, op="<>", tag="_tr"
    )
    feats_tr = feats_tr.replace("tok AS MATERIALIZED", "ptok AS MATERIALIZED")
    feats_tr = feats_tr.replace("FROM tok", "FROM ptok")
    nb_sql = nb_language_oracle(holdout_mod=holdout_mod)
    return f"""
        WITH {feats_tr},
        base_ho AS MATERIALIZED (
          SELECT d.doc_id AS id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
                 [CAST(1 AS BIGINT), COALESCE(n_tok, 0),
                  CAST(n_chars AS BIGINT) // 8, COALESCE(n_the, 0),
                  COALESCE(n_dist, 0)] AS xs
          FROM documents d LEFT JOIN ta ON ta.id = d.doc_id
          WHERE d.doc_id % {holdout_mod} = 0
        ),
        feats_ho AS MATERIALIZED (
          SELECT id, y, CAST(j - 1 AS INT) AS j, x FROM (
            SELECT id, y, unnest(xs) AS x,
                   generate_subscripts(xs, 1) AS j
            FROM base_ho
          )
        ),
        w0 AS (SELECT DISTINCT j, CAST(0 AS BIGINT) AS w FROM feats_tr),
        {_perceptron_rounds_sql(n_rounds)},
        perc AS (
          SELECT f.id AS u,
                 CAST(CASE WHEN (CASE WHEN SUM(w.w * f.x) > 0 THEN 1 ELSE -1
                                 END) = MAX(f.y)
                      THEN 1 ELSE 0 END AS BIGINT) AS cb
          FROM feats_ho f JOIN w{n_rounds} w USING (j)
          GROUP BY f.id
        ),
        nb AS (
          SELECT doc_id AS u, CAST(is_correct AS BIGINT) AS ca
          FROM ({nb_sql})
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c
          FROM nb JOIN perc USING (u)
        )
        SELECT n, b AS n_b, c AS n_c,
               ((b - c) * (b - c) * 1000) // (b + c) AS chi2_milli,
               CASE WHEN abs(b - c) >= 1 THEN
                 ((abs(b - c) - 1) * (abs(b - c) - 1) * 1000) // (b + c)
               ELSE 0 END AS chi2_cc_milli
        FROM s WHERE b + c > 0
    """


def permuted_column(
    df: DataFrame, perm_col: str, id_col: str, salt: str = "p"
) -> DataFrame:
    """Deterministic permutation of ONE column against the rest of the
    relation — the RNG-free shuffle behind exact permutation importance:
    rows rank by ``(md5(id), id)``; the permuted column's values rank by
    an INDEPENDENT order ``(md5(salt || id), id)``; pairing the two ranks
    is a uniform derangement-in-expectation permutation any engine
    reproduces bit-for-bit (md5 hex ordering is plain lexicographic).

    Scale: two distributed two-phase rankings (range-partitioned
    ``distrank.dist_row_number``) + one equi-join on rank — no
    single-partition window anywhere.
    """
    from flink_example_spark.operators.distrank import dist_row_number

    others = [c for c in df.columns if c != perm_col]
    r1 = dist_row_number(
        df.select(
            *others, F.md5(F.col(id_col).cast("string")).alias("__h1")
        ),
        ["__h1", id_col],
        "__rk",
    ).drop("__h1")
    r2 = dist_row_number(
        df.select(
            F.col(perm_col),
            F.md5(
                F.concat(F.lit(salt), F.col(id_col).cast("string"))
            ).alias("__h2"),
            F.col(id_col).alias("__id2"),
        ),
        ["__h2", "__id2"],
        "__rk",
    ).select(perm_col, "__rk")
    return r1.join(r2, "__rk").drop("__rk")


def _permuted_units_sql(
    units_sql: str, perm_col: str, id_col: str, other_cols: list[str],
    salt: str = "p",
) -> str:
    """DuckDB twin of :func:`permuted_column` over a units subquery."""
    oc = ", ".join(other_cols)
    return f"""(
        WITH pbase AS MATERIALIZED (SELECT * FROM ({units_sql})),
        pr1 AS (
          SELECT {oc},
                 ROW_NUMBER() OVER (ORDER BY md5(CAST({id_col} AS VARCHAR)),
                                    {id_col}) AS rk
          FROM pbase
        ),
        pr2 AS (
          SELECT {perm_col},
                 ROW_NUMBER() OVER (ORDER BY
                   md5('{salt}' || CAST({id_col} AS VARCHAR)), {id_col}) AS rk
          FROM pbase
        )
        SELECT pr1.*, pr2.{perm_col} FROM pr1 JOIN pr2 USING (rk)
    )"""


def gbm_stumps_eval(
    df: DataFrame,
    target_sql: str,
    features: list[tuple[str, str, int]],
    id_sql: str,
    rounds: int = 3,
    lr_den: int = 2,
    n_buckets: int = 16,
) -> DataFrame:
    """:func:`gbm_stumps` with a HELD-OUT generalization curve — the
    overfitting monitor every boosting run needs: stumps train on the
    md5-bucket lower half of the units and the SAME corrections apply to
    the upper half, so each round reports train AND holdout SSE (exact
    BIGINTs; the holdout curve turning up is the early-stopping signal).

    Identical split-search/leaf arithmetic to ``gbm_stumps``; the
    holdout residual frame rides the same broadcast one-row stump join.
    Output per round: ``(boost_round, feat, cut_q, leaf_l, leaf_r,
    sse_train, sse_holdout)``.
    """
    fnames = [name for name, _, _ in features]
    h = F.expr(
        f"CAST(conv(substring(md5(CAST(({id_sql}) AS STRING)), 1, 8), 16, 10)"
        f" AS BIGINT) % {n_buckets}"
    )
    sel = [
        h.alias("bkt"),
        F.expr(f"CAST(floor(({target_sql}) + 0.5) AS BIGINT)").alias("yq"),
    ] + [
        F.expr(f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)").alias(name)
        for name, expr, scale in features
    ]
    base = df.select(*sel).filter(F.col("yq").isNotNull())
    for n in fnames:
        base = base.filter(F.col(n).isNotNull())
    half = n_buckets // 2
    train = base.filter(F.col("bkt") < half).drop("bkt")
    ho = base.filter(F.col("bkt") >= half).drop("bkt")
    f0 = train.agg(F.expr("sum(yq) div count(1)").alias("f0"))
    resid = (
        train.crossJoin(F.broadcast(f0))
        .select(*fnames, (F.col("yq") - F.col("f0")).alias("r"))
        .localCheckpoint(eager=False)
    )
    ho_resid = (
        ho.crossJoin(F.broadcast(f0))
        .select(*fnames, (F.col("yq") - F.col("f0")).alias("r"))
        .localCheckpoint(eager=False)
    )
    stack_expr = (
        f"stack({len(fnames)}, "
        + ", ".join(f"'{n}', {n}" for n in fnames)
        + ") AS (feat, xq)"
    )
    wl = Window.partitionBy("feat").orderBy("xq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("feat").orderBy("xq").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    chosen = lambda: F.coalesce(
        *[F.when(F.col("feat") == n, F.col(n)) for n in fnames]
    )
    out_rows = []
    for m in range(1, rounds + 1):
        long = resid.selectExpr(stack_expr, "r")
        pv = long.groupBy("feat", "xq").agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("r").alias("s0"),
            F.sum(F.col("r") * F.col("r")).alias("q0"),
        )
        cuts = pv.select(
            "feat",
            "xq",
            F.sum("c").over(wl).alias("nl"),
            F.sum("s0").over(wl).alias("sl"),
            F.sum("q0").over(wl).alias("ql"),
            F.sum("c").over(wt).alias("n"),
            F.sum("s0").over(wt).alias("s"),
            F.sum("q0").over(wt).alias("q"),
        ).filter(F.col("nl") < F.col("n"))
        nr = F.col("n") - F.col("nl")
        sr = F.col("s") - F.col("sl")
        qr = F.col("q") - F.col("ql")
        scored = cuts.select(
            "feat",
            "xq",
            F.expr(f"sl div ({lr_den} * nl)").alias("leaf_l"),
            (
                (F.col("nl") * F.col("ql") - F.col("sl") * F.col("sl")).cast(
                    "double"
                )
                / F.col("nl").cast("double")
                + (nr * qr - sr * sr).cast("double") / nr.cast("double")
            ).alias("cost"),
            F.expr(f"(s - sl) div ({lr_den} * (n - nl))").alias("leaf_r"),
        )
        best = _argmin1(
            scored,
            ["cost", "feat", "xq"],
            ["feat", F.col("xq").alias("cut_q"), "leaf_l", "leaf_r"],
        ).localCheckpoint(eager=False)

        def apply_round(frame: DataFrame) -> DataFrame:
            return (
                frame.crossJoin(F.broadcast(best))
                .select(
                    *fnames,
                    (
                        F.col("r")
                        - F.when(
                            chosen() <= F.col("cut_q"), F.col("leaf_l")
                        ).otherwise(F.col("leaf_r"))
                    ).alias("r"),
                )
                .localCheckpoint(eager=False)
            )

        resid = apply_round(resid)
        ho_resid = apply_round(ho_resid)
        sse_t = resid.agg(F.sum(F.col("r") * F.col("r")).alias("sse_train"))
        sse_h = ho_resid.agg(
            F.sum(F.col("r") * F.col("r")).alias("sse_holdout")
        )
        out_rows.append(
            best.crossJoin(F.broadcast(sse_t))
            .crossJoin(F.broadcast(sse_h))
            .select(
                F.lit(m).alias("boost_round"),
                "feat",
                "cut_q",
                "leaf_l",
                "leaf_r",
                "sse_train",
                "sse_holdout",
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out


def gbm_stumps_eval_oracle(
    source_sql: str,
    target_sql: str,
    features: list[tuple[str, str, int]],
    id_sql: str,
    rounds: int = 3,
    lr_den: int = 2,
    n_buckets: int = 16,
) -> str:
    """DuckDB twin of :func:`gbm_stumps_eval`."""
    fnames = [name for name, _, _ in features]
    fsel = ", ".join(
        f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT) AS {name}"
        for name, expr, scale in features
    )
    notnull = " AND ".join([f"({target_sql}) IS NOT NULL"] + [
        f"({expr}) IS NOT NULL" for _, expr, _ in features
    ])
    half = n_buckets // 2
    long_union = " UNION ALL ".join(
        f"SELECT '{n}' AS feat, {n} AS xq, r FROM r{{m}}" for n in fnames
    )
    chosen = "CASE b.feat " + " ".join(
        f"WHEN '{n}' THEN {n}" for n in fnames
    ) + " END"
    parts = [
        f"""WITH base AS MATERIALIZED (
          SELECT CAST(CAST(concat('0x', substr(md5(CAST(({id_sql}) AS VARCHAR)),
                   1, 8)) AS BIGINT) % {n_buckets} AS BIGINT) AS bkt,
                 CAST(floor(({target_sql}) + 0.5) AS BIGINT) AS yq, {fsel}
          FROM ({source_sql}) WHERE {notnull}
        ),
        f0 AS (
          SELECT CAST(SUM(yq) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS f0
          FROM base WHERE bkt < {half}
        ),
        r0 AS MATERIALIZED (
          SELECT {', '.join(fnames)}, yq - (SELECT f0 FROM f0) AS r
          FROM base WHERE bkt < {half}
        ),
        h0 AS MATERIALIZED (
          SELECT {', '.join(fnames)}, yq - (SELECT f0 FROM f0) AS r
          FROM base WHERE bkt >= {half}
        )"""
    ]
    for m in range(1, rounds + 1):
        p = m - 1
        lu = long_union.format(m=p)
        parts.append(f"""long{m} AS ({lu}),
        pv{m} AS (
          SELECT feat, xq, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(r) AS BIGINT) AS s0,
                 CAST(SUM(r*r) AS BIGINT) AS q0
          FROM long{m} GROUP BY 1, 2
        ),
        cuts{m} AS (
          SELECT feat, xq,
                 CAST(SUM(c) OVER w AS BIGINT) AS nl,
                 CAST(SUM(s0) OVER w AS BIGINT) AS sl,
                 CAST(SUM(q0) OVER w AS BIGINT) AS ql,
                 CAST(SUM(c) OVER t AS BIGINT) AS n,
                 CAST(SUM(s0) OVER t AS BIGINT) AS s,
                 CAST(SUM(q0) OVER t AS BIGINT) AS q
          FROM pv{m}
          WINDOW w AS (PARTITION BY feat ORDER BY xq
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 t AS (PARTITION BY feat)
        ),
        best{m} AS MATERIALIZED (
          SELECT feat, xq AS cut_q,
                 sl // ({lr_den} * nl) AS leaf_l,
                 (s - sl) // ({lr_den} * (n - nl)) AS leaf_r
          FROM (
            SELECT *, CAST(nl*ql - sl*sl AS DOUBLE) / CAST(nl AS DOUBLE)
                      + CAST((n-nl)*(q-ql) - (s-sl)*(s-sl) AS DOUBLE)
                        / CAST(n - nl AS DOUBLE) AS cost
            FROM cuts{m} WHERE nl < n
          ) ORDER BY cost, feat, xq LIMIT 1
        ),
        r{m} AS MATERIALIZED (
          SELECT {', '.join(fnames)},
                 r - (CASE WHEN {chosen} <= b.cut_q THEN b.leaf_l
                           ELSE b.leaf_r END) AS r
          FROM r{p}, best{m} b
        ),
        h{m} AS MATERIALIZED (
          SELECT {', '.join(fnames)},
                 r - (CASE WHEN {chosen} <= b.cut_q THEN b.leaf_l
                           ELSE b.leaf_r END) AS r
          FROM h{p}, best{m} b
        ),
        sse{m} AS (
          SELECT (SELECT CAST(SUM(r*r) AS BIGINT) FROM r{m}) AS sse_train,
                 (SELECT CAST(SUM(r*r) AS BIGINT) FROM h{m}) AS sse_holdout
        )""")
    finals = " UNION ALL ".join(
        f"""SELECT {m} AS boost_round, feat, cut_q, leaf_l, leaf_r,
               (SELECT sse_train FROM sse{m}) AS sse_train,
               (SELECT sse_holdout FROM sse{m}) AS sse_holdout
           FROM best{m}"""
        for m in range(1, rounds + 1)
    )
    return ",\n".join(parts) + f"\n{finals}"


def spearman_corr(
    df: DataFrame, a_col: str, b_col: str, id_col: str
) -> DataFrame:
    """Spearman rank correlation — the outlier-robust, monotonicity-
    sensitive complement of Pearson (a perfect nonlinear monotone
    relation scores rho = 1 where Pearson underreads). Ranks are exact
    integer ROW_NUMBERs with the deterministic ``(value, id)`` tiebreak
    (documented: ties split by id order rather than fractional average
    ranks, so every quantity stays an exact BIGINT; at the corpus sizes
    this engine targets the difference is sub-ppm unless a column is
    mostly ties — use a chi-square association test for those).

    rho then closes over the rank sums via the linear_fit calculus:
    one fixed double expression at the boundary. Output one row:
    ``(n, rho)``.

    Scale: two distributed two-phase rankings (range-partitioned
    ``distrank.dist_row_number`` — no single-partition window) + one
    rollup.
    """
    from flink_example_spark.operators.distrank import dist_row_number

    units = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"),
             F.col(id_col).alias("__id"))
    ranked = dist_row_number(units, ["__a", "__id"], "ra")
    ranked = dist_row_number(ranked, ["__b", "__id"], "rb").select("ra", "rb")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    da = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    db = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    return s.filter((da > 0) & (db > 0)).select(
        F.col("n").cast("long").alias("n"),
        (
            num.cast("double")
            / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double")))
        ).alias("rho"),
    )


def spearman_corr_oracle(
    units_sql: str, a_col: str, b_col: str, id_col: str
) -> str:
    """DuckDB twin of :func:`spearman_corr`."""
    return f"""
        WITH ranked AS (
          SELECT ROW_NUMBER() OVER (ORDER BY {a_col}, {id_col}) AS ra,
                 ROW_NUMBER() OVER (ORDER BY {b_col}, {id_col}) AS rb
          FROM ({units_sql})
          WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        ),
        s AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
                 CAST(SUM(ra*ra) AS BIGINT) AS saa,
                 CAST(SUM(rb*rb) AS BIGINT) AS sbb,
                 CAST(SUM(ra*rb) AS BIGINT) AS sab
          FROM ranked
        )
        SELECT n,
               CAST(n*sab - sa*sb AS DOUBLE)
                 / (sqrt(CAST(n*saa - sa*sa AS DOUBLE))
                    * sqrt(CAST(n*sbb - sb*sb AS DOUBLE))) AS rho
        FROM s WHERE n*saa - sa*sa > 0 AND n*sbb - sb*sb > 0
    """


def cramers_v(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Cramér's V — the [0, 1] association strength between two
    CATEGORICAL columns (the correlation question chi-square alone
    doesn't answer, because raw chi2 grows with n). Exact integer
    chi-square: per contingency cell the term closes to
    ``(O*n - r*c)^2 / (n*r*c)``, quantized to micro by ONE DECIMAL(38)
    trunc-division per cell (quantize-before-accumulate), then
    ``V = sqrt(chi2 / (n * min(rows-1, cols-1)))`` — one sqrt of one
    ratio at the output boundary (IEEE exact on identical operands).

    Output one row: ``(n, n_rows_cat, n_cols_cat, chi2_micro, v)``.

    Scale: one (a, b) cell aggregation + two marginal rollups joined
    back — contingency-table-sized everywhere after the first shuffle.
    """
    cells = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b")).agg(
        F.count(F.lit(1)).alias("o")
    ).localCheckpoint(eager=False)  # marginals AND terms read it
    ra = cells.groupBy("a").agg(F.sum("o").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    terms = (
        cells.join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "ka",
            "kb",
            F.expr(
                f"CAST((({dec.format('o * n - r * c')})"
                f" * ({dec.format('o * n - r * c')}) * 1000000)"
                f" div ({dec.format('n')} * {dec.format('r')}"
                f" * {dec.format('c')}) AS BIGINT)"
            ).alias("t"),
            (F.col("r") * F.col("c")).alias("rc"),
        )
    )
    # unobserved cells contribute (0 - E)^2 / E = E each; their total is
    # exactly (n^2 - sum_observed(r*c)) / n
    s = terms.groupBy("n", "ka", "kb").agg(
        (
            F.sum("t")
            + F.expr(
                f"CAST((({dec.format('n')} * {dec.format('n')}"
                f" - {dec.format('sum(rc)')}) * 1000000)"
                f" div {dec.format('n')} AS BIGINT)"
            )
        ).alias("chi2_micro")
    )
    return s.filter((F.col("ka") >= 2) & (F.col("kb") >= 2)).select(
        F.col("n").cast("long").alias("n"),
        F.col("ka").cast("long").alias("n_rows_cat"),
        F.col("kb").cast("long").alias("n_cols_cat"),
        "chi2_micro",
        F.sqrt(
            F.col("chi2_micro").cast("double")
            / (
                F.lit(1_000_000.0)
                * F.col("n").cast("double")
                * F.least(F.col("ka") - 1, F.col("kb") - 1).cast("double")
            )
        ).alias("v"),
    )


def cramers_v_oracle(units_sql: str, a_col: str, b_col: str) -> str:
    """DuckDB twin of :func:`cramers_v` (HUGEINT cells)."""
    return f"""
        WITH cells AS MATERIALIZED (
          SELECT {a_col} AS a, {b_col} AS b, CAST(COUNT(*) AS BIGINT) AS o
          FROM ({units_sql})
          WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
                 CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
          FROM cells
        ),
        terms AS (
          SELECT n, ka, kb,
                 CAST((CAST(o * n - r * c AS HUGEINT)
                       * CAST(o * n - r * c AS HUGEINT) * 1000000)
                   // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS t,
                 r * c AS rc
          FROM cells JOIN ra USING (a) JOIN cb USING (b), tot
        ),
        s AS (
          SELECT n, ka, kb,
                 CAST(SUM(t)
                   + (CAST(n AS HUGEINT) * n - CAST(SUM(rc) AS HUGEINT))
                     * 1000000 // CAST(n AS HUGEINT)
                   AS BIGINT) AS chi2_micro
          FROM terms GROUP BY 1, 2, 3
        )
        SELECT n, ka AS n_rows_cat, kb AS n_cols_cat, chi2_micro,
               sqrt(CAST(chi2_micro AS DOUBLE)
                    / (1000000.0 * CAST(n AS DOUBLE)
                       * CAST(least(ka - 1, kb - 1) AS DOUBLE))) AS v
        FROM s WHERE ka >= 2 AND kb >= 2
    """


def roc_auc(
    df: DataFrame, score_col: str, label_col, id_col: str
) -> DataFrame:
    """Exact ROC-AUC — the threshold-free ranking quality of a score
    against a binary label (the number every gating score gets judged
    by: P(score_pos > score_neg) with ties counting half). Computed as
    the Mann-Whitney rank-sum with MIDRANK tie handling, closed over
    per-score-value groups so no positives/negatives join is needed:

    with global ``rn`` = ROW_NUMBER over (score, id) and per tied-score
    group g: 2*midrank_g = min(rn) + max(rn), so
    ``2*U_sum = sum_g n_pos_g * (min_rn_g + max_rn_g)`` and
    ``AUC = (2*U_sum - n_pos*(n_pos+1)) / (2 * n_pos * n_neg)`` —
    every accumulated quantity an exact BIGINT, ONE double division at
    the output boundary (IEEE-identical across engines; DESIGN.md).

    Output one row: ``(n, n_pos, n_neg, auc)``.

    Scale: one distributed two-phase ranking (``distrank`` — no
    single-partition window) + one hash aggregation by score value +
    one rollup.
    """
    from flink_example_spark.operators.distrank import dist_row_number

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    rows = df.filter(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("s"),
        F.when(lab, 1).otherwise(0).cast("long").alias("y"),
        F.col(id_col).alias("id"),
    )
    ranked = dist_row_number(rows, ["s", "id"], "rn")
    grp = ranked.groupBy("s").agg(
        F.min("rn").alias("m1"),
        F.max("rn").alias("m2"),
        F.sum("y").alias("npg"),
        F.count(F.lit(1)).alias("ng"),
    )
    s = grp.agg(
        F.sum(F.col("npg") * (F.col("m1") + F.col("m2"))).alias("two_u"),
        F.sum("npg").alias("n_pos"),
        F.sum(F.col("ng") - F.col("npg")).alias("n_neg"),
        F.sum("ng").alias("n"),
    )
    num = F.col("two_u") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return s.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (num.cast("double") / den.cast("double")).alias("auc"),
    )


def roc_auc_oracle(
    units_sql: str, score_col: str, label_sql: str, id_col: str
) -> str:
    """DuckDB twin of :func:`roc_auc` (same midrank closure)."""
    return f"""
        WITH u AS (
          SELECT {score_col} AS s,
                 CAST(CASE WHEN {label_sql} THEN 1 ELSE 0 END AS BIGINT) AS y,
                 {id_col} AS id
          FROM ({units_sql}) WHERE {score_col} IS NOT NULL
        ),
        ranked AS (
          SELECT s, y,
                 CAST(ROW_NUMBER() OVER (ORDER BY s, id) AS BIGINT) AS rn
          FROM u
        ),
        grp AS (
          SELECT s, CAST(MIN(rn) AS BIGINT) AS m1,
                 CAST(MAX(rn) AS BIGINT) AS m2,
                 CAST(SUM(y) AS BIGINT) AS npg,
                 CAST(COUNT(*) AS BIGINT) AS ng
          FROM ranked GROUP BY s
        ),
        agg AS (
          SELECT CAST(SUM(npg * (m1 + m2)) AS BIGINT) AS two_u,
                 CAST(SUM(npg) AS BIGINT) AS n_pos,
                 CAST(SUM(ng - npg) AS BIGINT) AS n_neg,
                 CAST(SUM(ng) AS BIGINT) AS n
          FROM grp
        )
        SELECT n, n_pos, n_neg,
               CAST(two_u - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
        FROM agg WHERE n_pos > 0 AND n_neg > 0
    """


def roc_auc_from_counts(counts: DataFrame) -> DataFrame:
    """:func:`roc_auc` closed over a prepared per-(score, label) count
    relation ``(s, y, c)`` — the read-time algebra of the live AUC
    monitor (state = the count monoid) and the sufficient-statistics
    batch form. With inclusive score-ordered cumulative group sizes
    ``cum``: the tied group's rank window is ``[cum - ng + 1, cum]``, so
    ``2*U_sum = sum_s npg * (2*cum - ng + 1)`` — identical to the
    row-level midrank closure, but ranking only the DISTINCT-score
    relation (one distributed cumsum via ``distrank``)."""
    from flink_example_spark.operators.distrank import dist_cumsum

    per_s = counts.groupBy("s").agg(
        F.sum(F.when(F.col("y") == 1, F.col("c")).otherwise(0)).alias("npg"),
        F.sum("c").alias("ng"),
    )
    cum = dist_cumsum(per_s, ["s"], {"cum": "ng"})
    s = cum.agg(
        F.sum(
            F.col("npg") * (F.lit(2) * F.col("cum") - F.col("ng") + 1)
        ).alias("two_u"),
        F.sum("npg").alias("n_pos"),
        F.sum(F.col("ng") - F.col("npg")).alias("n_neg"),
        F.sum("ng").alias("n"),
    )
    num = F.col("two_u") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return s.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (num.cast("double") / den.cast("double")).alias("auc"),
    )


def psi_drift(
    df: DataFrame,
    slice_pred,
    value_sql: str,
    width: int = 500,
) -> DataFrame:
    """Population Stability Index between two slices of a metric — the
    standard production drift gate ("has this feature's distribution
    moved enough to retrain/alert"): rows split by ``slice_pred`` into
    REFERENCE (false) and CURRENT (true); values bucket by fixed width;
    ``PSI = sum_b (p_b - q_b) * log(p_b / q_b)``. Classic bands (with
    natural log): < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted.

    Portability: shares are exact micro units (``(cnt * 1e6) div n``,
    clamped >= 1 so empty buckets behave like the standard epsilon
    smoothing), and the log ratio uses the integer floor-log2 device
    (``length(bin(x)) - 1``; DESIGN.md — libm-free), so every term and
    the total are exact BIGINTs in micro*log2 units (divide by 1.4427
    to eyeball natural-log PSI).

    Output: one row per observed bucket ``(bucket, n_ref, n_cur,
    ref_share_micro, cur_share_micro, psi_term)`` plus a summary row
    ``bucket IS NULL`` carrying the total in ``psi_term`` (NULL, not a
    sentinel integer: with negative values any integer sentinel would
    COLLIDE with a genuine bucket — -1 did, nondeterministically
    reordering the tied rows between engines).

    Scale: one hash aggregation to bucket counts (map-side combined) +
    one bucket-count-sized projection.
    """
    pred = slice_pred if not isinstance(slice_pred, str) else F.expr(slice_pred)
    # Sign-and-magnitude bucket index: Spark `div` truncates toward zero
    # while DuckDB `//` floors, so a bare `fv div width` assigns negative
    # values to different buckets per engine. `sign * (abs div w)` keeps
    # the divided numerator non-negative (where div and // agree) and is
    # mirrored verbatim in the oracle. A NULL slice_pred coalesces to the
    # REFERENCE side, matching the oracle's CASE ELSE arm.
    vq = F.expr(
        f"CASE WHEN CAST(floor(({value_sql})) AS BIGINT) < 0"
        f" THEN -((-CAST(floor(({value_sql})) AS BIGINT)) div {width})"
        f" ELSE CAST(floor(({value_sql})) AS BIGINT) div {width} END"
    )
    counts = (
        df.filter(F.expr(f"({value_sql}) IS NOT NULL"))
        .select(
            vq.alias("bucket"),
            F.coalesce(pred.cast("int"), F.lit(0)).alias("cur"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.lit(1) - F.col("cur")).cast("long").alias("n_ref"),
            F.sum("cur").cast("long").alias("n_cur"),
        )
    )
    return psi_from_counts(counts)


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """The read-time algebra of :func:`psi_drift` over a ``(bucket,
    n_ref, n_cur)`` count relation — split out so the live monitor
    (``streaming/ml_stream.py::run_streaming_psi``) can keep the bucket
    counts as its only streaming state (count monoid) and apply the
    share/log algebra when the sink is read."""
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    terms = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "ref_share_micro",
            F.greatest(F.expr("(n_ref * 1000000) div tr"), F.lit(1)),
        )
        .withColumn(
            "cur_share_micro",
            F.greatest(F.expr("(n_cur * 1000000) div tc"), F.lit(1)),
        )
        .withColumn(
            "psi_term",
            (F.col("ref_share_micro") - F.col("cur_share_micro"))
            * (
                (F.length(F.bin(F.col("ref_share_micro"))) - 1)
                - (F.length(F.bin(F.col("cur_share_micro"))) - 1)
            ).cast("long"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_ref",
            "n_cur",
            F.col("ref_share_micro").cast("long").alias("ref_share_micro"),
            F.col("cur_share_micro").cast("long").alias("cur_share_micro"),
            F.col("psi_term").cast("long").alias("psi_term"),
        )
    )
    summary = terms.agg(
        F.lit(None).cast("long").alias("bucket"),
        F.sum("n_ref").cast("long").alias("n_ref"),
        F.sum("n_cur").cast("long").alias("n_cur"),
        F.lit(None).cast("long").alias("ref_share_micro"),
        F.lit(None).cast("long").alias("cur_share_micro"),
        F.sum("psi_term").cast("long").alias("psi_term"),
    )
    return terms.unionByName(summary)


def psi_drift_oracle(
    units_sql: str, slice_sql: str, value_sql: str, width: int = 500
) -> str:
    """DuckDB twin of :func:`psi_drift`."""
    return f"""
        WITH counts AS MATERIALIZED (
          SELECT CASE WHEN CAST(floor(({value_sql})) AS BIGINT) < 0
                      THEN -((-CAST(floor(({value_sql})) AS BIGINT)) // {width})
                      ELSE CAST(floor(({value_sql})) AS BIGINT) // {width}
                 END AS bucket,
                 CAST(SUM(CASE WHEN COALESCE({slice_sql}, FALSE) THEN 0 ELSE 1
                     END) AS BIGINT) AS n_ref,
                 CAST(SUM(CASE WHEN COALESCE({slice_sql}, FALSE) THEN 1 ELSE 0
                     END) AS BIGINT) AS n_cur
          FROM ({units_sql}) WHERE ({value_sql}) IS NOT NULL
          GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
                 CAST(SUM(n_cur) AS BIGINT) AS tc
          FROM counts
        ),
        terms AS (
          SELECT bucket, n_ref, n_cur,
                 greatest((n_ref * 1000000) // tr, 1) AS ref_share_micro,
                 greatest((n_cur * 1000000) // tc, 1) AS cur_share_micro,
                 (greatest((n_ref * 1000000) // tr, 1)
                  - greatest((n_cur * 1000000) // tc, 1))
                 * CAST(len(bin(greatest((n_ref * 1000000) // tr, 1))) - 1
                   - (len(bin(greatest((n_cur * 1000000) // tc, 1))) - 1)
                   AS BIGINT) AS psi_term
          FROM counts, tot
        )
        SELECT bucket, n_ref, n_cur, ref_share_micro, cur_share_micro,
               psi_term
        FROM terms
        UNION ALL
        SELECT CAST(NULL AS BIGINT), CAST(SUM(n_ref) AS BIGINT),
               CAST(SUM(n_cur) AS BIGINT), NULL, NULL,
               CAST(SUM(psi_term) AS BIGINT)
        FROM terms
    """


def roc_auc_by_group(
    df: DataFrame, group_col: str, score_col: str, label_col, id_col: str
) -> DataFrame:
    """Per-slice ROC-AUC — the ranking-fairness audit ("does the quality
    score rank equally well for every language/source?"): the exact
    Mann-Whitney midrank closure of :func:`roc_auc`, computed WITHIN
    each group via group-partitioned windows (hash-partitioned on the
    group key — scale-fine, no global ranking at all). Slices where the
    score discriminates worse (AUC nearer 0.5) are where a thresholded
    gate silently biases the corpus.

    Output per group: ``(grp, n, n_pos, n_neg, auc)``.

    Scale: one per-group ranking window + one (group, score) hash
    aggregation + one group rollup.
    """
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    rows = df.filter(F.col(score_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(score_col).alias("s"),
        F.when(lab, 1).otherwise(0).cast("long").alias("y"),
        F.col(id_col).alias("id"),
    )
    w = Window.partitionBy("grp").orderBy("s", "id")
    ranked = rows.withColumn("rn", F.row_number().over(w))
    grp = ranked.groupBy("grp", "s").agg(
        F.min("rn").alias("m1"),
        F.max("rn").alias("m2"),
        F.sum("y").alias("npg"),
        F.count(F.lit(1)).alias("ng"),
    )
    s = grp.groupBy("grp").agg(
        F.sum(F.col("npg") * (F.col("m1") + F.col("m2"))).alias("two_u"),
        F.sum("npg").alias("n_pos"),
        F.sum(F.col("ng") - F.col("npg")).alias("n_neg"),
        F.sum("ng").alias("n"),
    )
    num = F.col("two_u") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = F.lit(2) * F.col("n_pos") * F.col("n_neg")
    return s.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (num.cast("double") / den.cast("double")).alias("auc"),
    )


def roc_auc_by_group_oracle(
    units_sql: str, group_col: str, score_col: str, label_sql: str, id_col: str
) -> str:
    """DuckDB twin of :func:`roc_auc_by_group`."""
    return f"""
        WITH u AS (
          SELECT {group_col} AS grp, {score_col} AS s,
                 CAST(CASE WHEN {label_sql} THEN 1 ELSE 0 END AS BIGINT) AS y,
                 {id_col} AS id
          FROM ({units_sql}) WHERE {score_col} IS NOT NULL
        ),
        ranked AS (
          SELECT grp, s, y,
                 CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY s, id)
                   AS BIGINT) AS rn
          FROM u
        ),
        g AS (
          SELECT grp, s, CAST(MIN(rn) AS BIGINT) AS m1,
                 CAST(MAX(rn) AS BIGINT) AS m2,
                 CAST(SUM(y) AS BIGINT) AS npg,
                 CAST(COUNT(*) AS BIGINT) AS ng
          FROM ranked GROUP BY grp, s
        ),
        agg AS (
          SELECT grp, CAST(SUM(npg * (m1 + m2)) AS BIGINT) AS two_u,
                 CAST(SUM(npg) AS BIGINT) AS n_pos,
                 CAST(SUM(ng - npg) AS BIGINT) AS n_neg,
                 CAST(SUM(ng) AS BIGINT) AS n
          FROM g GROUP BY grp
        )
        SELECT grp, n, n_pos, n_neg,
               CAST(two_u - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
        FROM agg WHERE n_pos > 0 AND n_neg > 0
    """


def fairness_audit(
    df: DataFrame, group_col: str, select_pred, label_col
) -> DataFrame:
    """Group-fairness audit of a selection gate — the three standard
    disparity readings a curation filter owes its audit log: per slice,
    the selection rate (demographic parity), the true-positive rate and
    false-positive rate (equalized odds), all in exact micro units, plus
    each slice's parity RATIO against the most-selected slice
    (the four-fifths rule reads ``parity_ratio_micro < 800000``).

    Output per group: ``(grp, n, n_sel, sel_rate_micro, tpr_micro,
    fpr_micro, parity_ratio_micro)``. TPR/FPR are NULL for slices with
    no positives/negatives (honest, not 0).

    Scale: ONE hash aggregation by group (map-side combined) + a
    broadcast one-row max join. No windows.
    """
    pred = select_pred if not isinstance(select_pred, str) else F.expr(select_pred)
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    # NULL pred -> not-selected, NULL label -> negative, coalesced
    # EXPLICITLY on both sides (the oracle wraps the same COALESCE) so the
    # engines agree by construction instead of by three-valued-logic luck.
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            F.coalesce(pred.cast("int"), F.lit(0)).alias("sel"),
            F.coalesce(lab.cast("int"), F.lit(0)).alias("y"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sel").alias("n_sel"),
            F.sum(F.col("sel") * F.col("y")).alias("tp"),
            F.sum("y").alias("n_pos"),
            F.sum(F.col("sel") * (1 - F.col("y"))).alias("fp"),
            F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        )
        .withColumn("sel_rate_micro", F.expr("(n_sel * 1000000) div n"))
    )
    mx = per.agg(F.max("sel_rate_micro").alias("max_rate"))
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.col("n_sel").cast("long").alias("n_sel"),
            F.col("sel_rate_micro").cast("long").alias("sel_rate_micro"),
            F.expr(
                "CASE WHEN n_pos > 0 THEN (tp * 1000000) div n_pos END"
            ).alias("tpr_micro"),
            F.expr(
                "CASE WHEN n_neg > 0 THEN (fp * 1000000) div n_neg END"
            ).alias("fpr_micro"),
            F.expr(
                "CASE WHEN max_rate > 0 THEN"
                " (sel_rate_micro * 1000000) div max_rate END"
            ).alias("parity_ratio_micro"),
        )
    )


def fairness_audit_oracle(
    units_sql: str, group_col: str, select_sql: str, label_sql: str
) -> str:
    """DuckDB twin of :func:`fairness_audit`."""
    return f"""
        WITH per AS MATERIALIZED (
          SELECT {group_col} AS grp, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN COALESCE({select_sql}, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
                 CAST(SUM(CASE WHEN COALESCE({select_sql}, FALSE)
                   AND COALESCE({label_sql}, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN COALESCE({label_sql}, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(SUM(CASE WHEN COALESCE({select_sql}, FALSE)
                   AND NOT COALESCE({label_sql}, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN COALESCE({label_sql}, FALSE)
                   THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
          FROM ({units_sql}) GROUP BY 1
        ),
        withr AS (
          SELECT *, (n_sel * 1000000) // n AS sel_rate_micro FROM per
        ),
        mx AS (SELECT CAST(MAX(sel_rate_micro) AS BIGINT) AS max_rate
               FROM withr)
        SELECT grp, n, n_sel, sel_rate_micro,
               CASE WHEN n_pos > 0 THEN (tp * 1000000) // n_pos END
                 AS tpr_micro,
               CASE WHEN n_neg > 0 THEN (fp * 1000000) // n_neg END
                 AS fpr_micro,
               CASE WHEN max_rate > 0 THEN
                 (sel_rate_micro * 1000000) // max_rate END
                 AS parity_ratio_micro
        FROM withr, mx
    """


def mutual_info(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Mutual information between two CATEGORICAL columns, in quantized
    log2 units — the information-theoretic sibling of :func:`cramers_v`
    ("how many bits does knowing the source tell you about the
    language"), with the marginal entropies for normalization
    (``MI <= min(H_a, H_b)``).

    Portability: cell and marginal shares are exact micro units; every
    log is the integer floor-log2 device (``length(bin(x)) - 1``,
    DESIGN.md — libm-free), applied to the integer products ``o*n`` and
    ``r*c`` whose RATIO is the pointwise MI argument, so each term is an
    exact BIGINT in micro*log2 units. Coarse (floor-log2 quantization)
    but deterministic and monotone-comparable across column pairs — the
    screening statistic, with cramers_v as the exact-chi2 counterpart.

    Output one row: ``(n, n_a_cats, n_b_cats, mi_micro, ha_micro,
    hb_micro)``.

    Scale: one contingency aggregation (map-side combined) + two
    marginal rollups joined back on the category keys.
    """
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    return mutual_info_from_cells(cells)


def mutual_info_from_cells(cells: DataFrame) -> DataFrame:
    """The read-time algebra of :func:`mutual_info` over an ``(a, b, o)``
    contingency-cell count relation — split out so the live monitor
    (``streaming/ml_stream.py::run_streaming_mutual_info``) can keep the
    cell counts as its only streaming state (count monoid; marginals,
    entropies and the MI terms are all derived at read time)."""
    ra = cells.groupBy("a").agg(F.sum("o").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
    )
    lg = lambda x: F.length(F.bin(F.expr(x))) - 1  # noqa: E731
    terms = (
        cells.join(ra, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "ka",
            "kb",
            (
                F.expr("(o * 1000000) div n")
                * (lg("o * n") - lg("r * c")).cast("long")
            ).alias("mi_t"),
        )
    )
    mi = terms.groupBy("n", "ka", "kb").agg(
        F.sum("mi_t").cast("long").alias("mi_micro")
    )
    ha = (
        ra.crossJoin(F.broadcast(tot.select("n")))
        .select(
            (
                F.expr("(r * 1000000) div n")
                * (lg("n") - lg("r")).cast("long")
            ).alias("t")
        )
        .agg(F.sum("t").cast("long").alias("ha_micro"))
    )
    hb = (
        cb.crossJoin(F.broadcast(tot.select("n")))
        .select(
            (
                F.expr("(c * 1000000) div n")
                * (lg("n") - lg("c")).cast("long")
            ).alias("t")
        )
        .agg(F.sum("t").cast("long").alias("hb_micro"))
    )
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("ka").cast("long").alias("n_a_cats"),
            F.col("kb").cast("long").alias("n_b_cats"),
            "mi_micro",
            "ha_micro",
            "hb_micro",
        )
    )


def mutual_info_oracle(units_sql: str, a_col: str, b_col: str) -> str:
    """DuckDB twin of :func:`mutual_info`."""
    return f"""
        WITH cells AS MATERIALIZED (
          SELECT {a_col} AS a, {b_col} AS b, CAST(COUNT(*) AS BIGINT) AS o
          FROM ({units_sql})
          WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        tot AS (
          SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
                 CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
          FROM cells
        ),
        mi AS (
          SELECT n, ka, kb,
                 CAST(SUM(((o * 1000000) // n)
                   * CAST(len(bin(o * n)) - len(bin(r * c)) AS BIGINT))
                   AS BIGINT) AS mi_micro
          FROM cells JOIN ra USING (a) JOIN cb USING (b), tot
          GROUP BY n, ka, kb
        ),
        ha AS (
          SELECT CAST(SUM(((r * 1000000) // n)
                   * CAST(len(bin(n)) - len(bin(r)) AS BIGINT)) AS BIGINT)
                   AS ha_micro
          FROM ra, tot
        ),
        hb AS (
          SELECT CAST(SUM(((c * 1000000) // n)
                   * CAST(len(bin(n)) - len(bin(c)) AS BIGINT)) AS BIGINT)
                   AS hb_micro
          FROM cb, tot
        )
        SELECT n, ka AS n_a_cats, kb AS n_b_cats, mi_micro, ha_micro,
               hb_micro
        FROM mi, ha, hb
    """


# Embedded quantized-sigmoid table (the driver-literal device, DESIGN.md):
# 128 buckets of 0.125 logit units covering [-8, 8), value at the bucket
# midpoint in micro units. Computed ONCE in Python; engine math never
# touches exp() — both plans share these integers verbatim.
_SIGMOID_TABLE = [
    round(1_000_000 / (1 + __import__("math").exp(-((i + 0.5) * 0.125))))
    for i in range(-64, 64)
]
_SIG_STEP = 125_000      # bucket width in logit micros
_SIG_CLAMP = 8_000_000   # |logit| clamp: beyond ±8 the sigmoid saturates


def _logistic_weights(
    data: DataFrame, k: int, n_steps: int, scale_den: int
) -> tuple[list[int], int]:
    """The descent loop over a prepared ``(y, x0..x{k-1})`` relation:
    returns (weights in logit-micros, n). One map-side-combined
    aggregation per step; the driver only ever sees the k-value gradient
    row (the BPE one-row-per-round precedent)."""
    n = data.count()
    arr = F.array(*[F.lit(v) for v in _SIGMOID_TABLE])
    w = [0] * k
    for _ in range(n_steps):
        z = " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(w))
        sig = F.element_at(arr, F.expr(_sig_bucket_sql(z)).cast("int"))
        r = (F.col("y") * F.lit(1_000_000) - sig).cast("long")
        g = data.agg(
            *[F.sum(F.col(f"x{i}") * r).alias(f"g{i}") for i in range(k)]
        ).first()
        w = [
            wi + (1 if gi >= 0 else -1) * (abs(int(gi)) // (scale_den * n))
            for wi, gi in zip(w, g)
        ]
    return w, n


def _sig_bucket_sql(z_sql: str) -> str:
    """1-based sigmoid-table index for a BIGINT logit-micros expression.
    The logit can be NEGATIVE, and negative integer division is not
    portable (Spark div truncates toward zero, DuckDB // floors) — so
    clamp to the covered range FIRST, shift non-negative, then divide:
    identical buckets in both engines by construction."""
    zc = f"greatest(least({z_sql}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
    return f"((({zc}) + {_SIG_CLAMP}) div {_SIG_STEP}) + 1"


def logistic_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    n_steps: int = 8,
    scale_den: int = 16,
) -> DataFrame:
    """Logistic regression by full-batch gradient descent, BIT-REPRODUCIBLE
    across engines: weights live in BIGINT logit-micros, every per-row
    sigmoid is an embedded-table lookup (``_SIGMOID_TABLE`` — libm-free),
    every gradient is an exact BIGINT sum, and the update divides
    sign-and-magnitude (``w += sign(g) * (|g| div (scale_den * n))`` —
    the portable negative-division form). Fixed ``n_steps`` full-batch
    rounds make the result a pure function of the data.

    ``df`` must carry ``y_col`` in {0,1} and SMALL-INTEGER feature
    columns (clamp upstream; the lr bound assumes |x| <= scale_den). An
    intercept feature is added internally.

    Output (tall, scalar): one row per weight ``(feature, w_micro)``
    — 'intercept' first, then ``x_cols`` — plus audit rows ``__n`` and
    ``__n_correct`` (training accuracy of the final iterate at the
    z >= 0 decision boundary) carried in the same column.

    Scale: one localCheckpoint'd pass over the feature projection;
    each step is ONE map-side-combined aggregation producing a k-row
    gradient (k = features — parameter-sized, the only thing the driver
    ever sees; the BPE one-row-per-round precedent). 100 TB posture:
    n_steps scans, zero shuffles beyond the final partial-agg merge.
    """
    names = ["intercept"] + list(x_cols)
    data = df.select(
        F.col(y_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[F.col(c).cast("long").alias(f"x{i + 1}") for i, c in enumerate(x_cols)],
    )
    data = compact_cut(data)  # reused by every step + the final audit
    w, n = _logistic_weights(data, len(names), n_steps, scale_den)

    def z_sql(ws: list[int]) -> str:
        return " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(ws))

    correct = data.agg(
        F.sum(
            (
                (F.expr(z_sql(w)) >= 0).cast("long") == F.col("y")
            ).cast("long")
        )
    ).first()[0]
    rows = (
        [(nm, int(wi)) for nm, wi in zip(names, w)]
        + [("__n", int(n)), ("__n_correct", int(correct))]
    )
    return local_df(df.sparkSession, rows, "feature string, w_micro long")


def _descent_parts(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int,
    scale_den: int,
    carry_sqls: list[tuple[str, str]] = (),
) -> tuple[list[str], list[str], int]:
    """Shared unrolled-descent CTE chain (``d``/``meta``/``w0..w{n}``)
    for the logistic-propensity oracles (:func:`logistic_fit_oracle`,
    :func:`ipw_ate_oracle`) — identical SQL text either caller emits.
    Returns ``(parts, feature_names, k)``."""
    lit = "[" + ",".join(str(v) for v in _SIGMOID_TABLE) + "]"
    names = ["intercept"] + [nm for nm, _ in x_sqls]
    k = len(names)
    feat = ", ".join(
        ["CAST(1 AS BIGINT) AS x0"]
        + [f"CAST(({sql}) AS BIGINT) AS x{i + 1}" for i, (_, sql) in enumerate(x_sqls)]
        + [f"CAST(({sql}) AS BIGINT) AS {nm}" for nm, sql in carry_sqls]
    )
    parts = [
        f"""d AS MATERIALIZED (
          SELECT CAST(({y_sql}) AS BIGINT) AS y, {feat} FROM ({units_sql})),
        meta AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))})"""
    ]
    for s in range(n_steps):
        z = " + ".join(f"d.x{i} * w{s}.w{i}" for i in range(k))
        zc = f"greatest(least({z}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
        sig = f"({lit})[((({zc}) + {_SIG_CLAMP}) // {_SIG_STEP}) + 1]"
        gs = ", ".join(
            f"CAST(SUM(d.x{i} * (d.y * 1000000 - {sig})) AS BIGINT) AS g{i}"
            for i in range(k)
        )
        ws = ", ".join(
            f"w{s}.w{i} + (CASE WHEN g{s}.g{i} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(g{s}.g{i}) // ({scale_den} * meta.n)) AS w{i}"
            for i in range(k)
        )
        parts.append(
            f"g{s} AS MATERIALIZED (SELECT {gs} FROM d, w{s})"
        )
        parts.append(
            f"w{s + 1} AS MATERIALIZED (SELECT {ws} FROM w{s}, g{s}, meta)"
        )
    return parts, names, k


def logistic_fit_oracle(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 8,
    scale_den: int = 16,
    carry_sqls: list[tuple[str, str]] = (),
) -> str:
    """DuckDB twin of :func:`logistic_fit`: the descent unrolled as a
    chained MATERIALIZED CTE per step (each weight row feeds the next
    gradient AND the update — the DESIGN.md inlining rule).
    ``x_sqls`` is ``[(feature_name, sql_expr)]``; ``carry_sqls`` adds
    pass-through columns to the ``d`` CTE (for the scoring twin)."""
    parts, names, k = _descent_parts(
        units_sql, y_sql, x_sqls, n_steps, scale_den, carry_sqls
    )
    zf = " + ".join(f"d.x{i} * w{n_steps}.w{i}" for i in range(k))
    weight_rows = " UNION ALL ".join(
        f"SELECT '{nm}' AS feature, w{i} AS w_micro FROM w{n_steps}"
        for i, nm in enumerate(names)
    )
    return f"""
        WITH {", ".join(parts)}
        {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__n_correct',
          CAST(SUM(CASE WHEN (({zf}) >= 0) = (d.y = 1) THEN 1 ELSE 0 END)
            AS BIGINT)
        FROM d, w{n_steps}
    """


def logistic_score(
    df: DataFrame,
    weights: list[int],
    x_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Serve a :func:`logistic_fit` model: per-row logit (BIGINT micros,
    exact), table-lookup probability, and the z >= 0 decision — the same
    embedded sigmoid table as training, so scoring is bit-reproducible
    anywhere the integer weights travel. Stateless projection (no
    shuffle); ``weights`` = [intercept, w(x_cols[0]), ...] in micros."""
    z = F.lit(int(weights[0])).cast("long")
    for wi, c in zip(weights[1:], x_cols):
        z = z + F.col(c).cast("long") * F.lit(int(wi)).cast("long")
    arr = F.array(*[F.lit(v) for v in _SIGMOID_TABLE])
    df = df.withColumn("__z", z)
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col("__z").alias("z_micro"),
        F.element_at(arr, F.expr(_sig_bucket_sql("__z")).cast("int"))
        .cast("long")
        .alias("p_micro"),
        (F.col("__z") >= 0).cast("long").alias("pred"),
    )


def logistic_score_oracle(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    id_sql: str,
    id_name: str = "doc_id",
    n_steps: int = 8,
    scale_den: int = 16,
) -> str:
    """DuckDB twin of train-then-serve: re-derives the weights via the
    unrolled :func:`logistic_fit_oracle` CTE chain, then scores every
    row with the same table lookup."""
    lit = "[" + ",".join(str(v) for v in _SIGMOID_TABLE) + "]"
    k = len(x_sqls) + 1
    train = logistic_fit_oracle(
        units_sql, y_sql, x_sqls, n_steps, scale_den,
        carry_sqls=[(id_name, id_sql)],
    )
    # reuse the training CTE chain: strip its final SELECT, keep the WITH
    head, _, _ = train.partition("SELECT 'intercept'")
    zf = " + ".join(f"d.x{i} * w{n_steps}.w{i}" for i in range(k))
    zc = f"greatest(least({zf}, {_SIG_CLAMP - 1}), -{_SIG_CLAMP})"
    return f"""
        {head}
        SELECT d.{id_name},
               CAST({zf} AS BIGINT) AS z_micro,
               CAST(({lit})[((({zc}) + {_SIG_CLAMP}) // {_SIG_STEP}) + 1]
                 AS BIGINT) AS p_micro,
               CAST(CASE WHEN ({zf}) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
        FROM d, w{n_steps}
    """


def quantile_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    tau_num: int = 9,
    tau_den: int = 10,
    n_steps: int = 12,
    scale_den: int = 16,
) -> DataFrame:
    """Linear QUANTILE regression (pinball / check loss) by full-batch
    subgradient descent — "fit the p90 of y given x", the tail-budget
    estimator OLS cannot give. Entirely integer and libm-free: the
    pinball subgradient per row is ``tau - 1{y < yhat}``, so each step
    is ``w_j += sign(g_j) * (|g_j| div (scale_den * n))`` with
    ``g_j = sum x_j * (tau_micro - 1e6 * 1{y*1e6 < z})`` — exact BIGINTs
    end to end, no sigmoid table even needed. ``tau = tau_num/tau_den``.

    ``df`` carries integer ``y_col`` and SMALL-INTEGER features (clamp
    upstream); intercept added internally; weights are micro-y units.

    Output (tall, scalar): ``(feature, w_micro)`` rows plus ``__n`` and
    ``__n_below`` (rows with y*1e6 < final fit — the empirical coverage;
    ~tau*n when converged).

    Scale: identical shape to :func:`logistic_fit` — one checkpointed
    feature pass, one map-side-combined aggregation per step, only
    parameter-sized rows ever reach the driver.
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    tau_micro = (tau_num * 1_000_000) // tau_den
    data = df.select(
        (F.col(y_col).cast("long") * F.lit(1_000_000)).alias("ym"),
        F.lit(1).cast("long").alias("x0"),
        *[F.col(c).cast("long").alias(f"x{i + 1}") for i, c in enumerate(x_cols)],
    )
    data = compact_cut(data)  # fit-loop input: cut + adaptive coalesce
    n = data.count()
    w = [0] * k

    def z(ws: list[int]):
        return F.expr(
            " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(ws))
        )

    for _ in range(n_steps):
        coef = (
            F.lit(tau_micro)
            - F.when(F.col("ym") < z(w), F.lit(1_000_000)).otherwise(F.lit(0))
        ).cast("long")
        g = data.agg(
            *[F.sum(F.col(f"x{i}") * coef).alias(f"g{i}") for i in range(k)]
        ).first()
        w = [
            wi + (1 if gi >= 0 else -1) * (abs(int(gi)) // (scale_den * n))
            for wi, gi in zip(w, g)
        ]
    below = data.agg(
        F.sum((F.col("ym") < z(w)).cast("long")).alias("b")
    ).first()["b"]
    rows = (
        [(nm, int(wi)) for nm, wi in zip(names, w)]
        + [("__n", int(n)), ("__n_below", int(below))]
    )
    return local_df(df.sparkSession, rows, "feature string, w_micro long")


def quantile_fit_oracle(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    tau_num: int = 9,
    tau_den: int = 10,
    n_steps: int = 12,
    scale_den: int = 16,
) -> str:
    """DuckDB twin of :func:`quantile_fit`: the subgradient descent
    unrolled as MATERIALIZED CTE steps."""
    names = ["intercept"] + [nm for nm, _ in x_sqls]
    k = len(names)
    tau_micro = (tau_num * 1_000_000) // tau_den
    feat = ", ".join(
        ["CAST(1 AS BIGINT) AS x0"]
        + [f"CAST(({sql}) AS BIGINT) AS x{i + 1}" for i, (_, sql) in enumerate(x_sqls)]
    )
    parts = [
        f"""d AS MATERIALIZED (
          SELECT CAST(({y_sql}) AS BIGINT) * 1000000 AS ym, {feat}
          FROM ({units_sql})),
        meta AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))})"""
    ]
    for s in range(n_steps):
        zf = " + ".join(f"d.x{i} * w{s}.w{i}" for i in range(k))
        coef = f"({tau_micro} - CASE WHEN d.ym < ({zf}) THEN 1000000 ELSE 0 END)"
        gs = ", ".join(
            f"CAST(SUM(d.x{i} * {coef}) AS BIGINT) AS g{i}" for i in range(k)
        )
        ws = ", ".join(
            f"w{s}.w{i} + (CASE WHEN g{s}.g{i} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(g{s}.g{i}) // ({scale_den} * meta.n)) AS w{i}"
            for i in range(k)
        )
        parts.append(f"g{s} AS MATERIALIZED (SELECT {gs} FROM d, w{s})")
        parts.append(
            f"w{s + 1} AS MATERIALIZED (SELECT {ws} FROM w{s}, g{s}, meta)"
        )
    zf = " + ".join(f"d.x{i} * w{n_steps}.w{i}" for i in range(k))
    weight_rows = " UNION ALL ".join(
        f"SELECT '{nm}' AS feature, w{i} AS w_micro FROM w{n_steps}"
        for i, nm in enumerate(names)
    )
    return f"""
        WITH {", ".join(parts)}
        {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__n_below',
          CAST(SUM(CASE WHEN d.ym < ({zf}) THEN 1 ELSE 0 END) AS BIGINT)
        FROM d, w{n_steps}
    """


def huber_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    delta_micro: int = 2_000_000,
    n_steps: int = 12,
    scale_den: int = 16,
) -> DataFrame:
    """Robust (Huber) linear regression by full-batch gradient descent —
    OLS whose influence is CLIPPED at ``delta``: junk rows pull the fit
    by at most delta each, so a contaminated corpus keeps a sane trend
    where least squares chases the outliers (:func:`mad_outliers` is the
    row-level gate; this is the fit-level counterpart). Pure integers:
    the Huber gradient per row is ``clamp(y - yhat, ±delta)`` — one
    greatest/least, exact BIGINT sums, the sign-safe division update.
    No table, no libm. y enters in micro units; clamp upstream to small
    integer features (the lr bound assumes |x| <= scale_den).

    Output (tall, scalar): ``(feature, w_micro)`` + ``__n`` +
    ``__n_clipped`` (rows at the clip boundary under the final fit —
    the outlier mass the fit refused to chase).

    Scale: the :func:`logistic_fit` shape — one checkpointed pass, one
    map-side-combined aggregation per step, parameter-sized driver rows.
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    data = df.select(
        (F.col(y_col).cast("long") * F.lit(1_000_000)).alias("ym"),
        F.lit(1).cast("long").alias("x0"),
        *[F.col(c).cast("long").alias(f"x{i + 1}") for i, c in enumerate(x_cols)],
    )
    data = compact_cut(data)  # fit-loop input: cut + adaptive coalesce
    n = data.count()
    w = [0] * k

    def z(ws: list[int]):
        return F.expr(
            " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(ws))
        )

    for _ in range(n_steps):
        r = F.greatest(
            F.least(F.col("ym") - z(w), F.lit(delta_micro)),
            F.lit(-delta_micro),
        ).cast("long")
        g = data.agg(
            *[F.sum(F.col(f"x{i}") * r).alias(f"g{i}") for i in range(k)]
        ).first()
        w = [
            wi + (1 if gi >= 0 else -1) * (abs(int(gi)) // (scale_den * n))
            for wi, gi in zip(w, g)
        ]
    clipped = data.agg(
        F.sum(
            (F.abs(F.col("ym") - z(w)) >= F.lit(delta_micro)).cast("long")
        ).alias("c")
    ).first()["c"]
    rows = (
        [(nm, int(wi)) for nm, wi in zip(names, w)]
        + [("__n", int(n)), ("__n_clipped", int(clipped))]
    )
    return local_df(df.sparkSession, rows, "feature string, w_micro long")


def huber_fit_oracle(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    delta_micro: int = 2_000_000,
    n_steps: int = 12,
    scale_den: int = 16,
) -> str:
    """DuckDB twin of :func:`huber_fit`: the clipped-gradient descent
    unrolled as MATERIALIZED CTE steps."""
    names = ["intercept"] + [nm for nm, _ in x_sqls]
    k = len(names)
    feat = ", ".join(
        ["CAST(1 AS BIGINT) AS x0"]
        + [f"CAST(({sql}) AS BIGINT) AS x{i + 1}" for i, (_, sql) in enumerate(x_sqls)]
    )
    parts = [
        f"""d AS MATERIALIZED (
          SELECT CAST(({y_sql}) AS BIGINT) * 1000000 AS ym, {feat}
          FROM ({units_sql})),
        meta AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))})"""
    ]
    for s in range(n_steps):
        zf = " + ".join(f"d.x{i} * w{s}.w{i}" for i in range(k))
        r = f"greatest(least(d.ym - ({zf}), {delta_micro}), -{delta_micro})"
        gs = ", ".join(
            f"CAST(SUM(d.x{i} * {r}) AS BIGINT) AS g{i}" for i in range(k)
        )
        ws = ", ".join(
            f"w{s}.w{i} + (CASE WHEN g{s}.g{i} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(g{s}.g{i}) // ({scale_den} * meta.n)) AS w{i}"
            for i in range(k)
        )
        parts.append(f"g{s} AS MATERIALIZED (SELECT {gs} FROM d, w{s})")
        parts.append(
            f"w{s + 1} AS MATERIALIZED (SELECT {ws} FROM w{s}, g{s}, meta)"
        )
    zf = " + ".join(f"d.x{i} * w{n_steps}.w{i}" for i in range(k))
    weight_rows = " UNION ALL ".join(
        f"SELECT '{nm}' AS feature, w{i} AS w_micro FROM w{n_steps}"
        for i, nm in enumerate(names)
    )
    return f"""
        WITH {", ".join(parts)}
        {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__n_clipped',
          CAST(SUM(CASE WHEN abs(d.ym - ({zf})) >= {delta_micro}
                   THEN 1 ELSE 0 END) AS BIGINT)
        FROM d, w{n_steps}
    """


# Embedded quantized-exp table for the log-link (Poisson) GLM: 96
# buckets of 0.125 covering logits [-8, 4) — the UPPER clamp is tighter
# than the sigmoid's on purpose: exp(8) in count-micros would push the
# gradient sums toward BIGINT range; exp(4) ~ 54.6 caps any fitted rate
# at 54.6 per unit, ample for small-integer counts (clamp y upstream).
_EXP_TABLE = [
    round(1_000_000 * __import__("math").exp((i + 0.5) * 0.125))
    for i in range(-64, 32)
]
_EXP_CLAMP_LO = -8_000_000
_EXP_CLAMP_HI = 4_000_000


def _exp_bucket_sql(z_sql: str) -> str:
    """1-based exp-table index; same clamp-shift-divide device as the
    sigmoid bucket (negative division portability)."""
    zc = f"greatest(least({z_sql}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
    return f"((({zc}) + {-_EXP_CLAMP_LO}) div {_SIG_STEP}) + 1"


def poisson_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    n_steps: int = 20,
    scale_den: int = 64,
) -> DataFrame:
    """Poisson (log-link) regression by full-batch gradient descent —
    "model the event RATE": ``E[y] = exp(w.x)``, the count-data member
    of the GLM trio (logistic for labels, quantile/Huber for robust
    location, Poisson for rates). Same bit-reproducible machinery as
    :func:`logistic_fit`: BIGINT logit-micros, per-row ``exp`` as an
    embedded-table lookup (``_EXP_TABLE``, clamped to [-8, 4) so every
    gradient sum stays far inside BIGINT), gradient
    ``g_j = sum x_j * (y*1e6 - exp_micro(w.x))``, sign-safe division
    update. Clamp ``y`` upstream to small integers; lr bound assumes
    ``y <= 16`` and ``|x| <= scale_den/4``.

    Output (tall, scalar): ``(feature, w_micro)`` + ``__n`` +
    ``__sum_y`` (total observed count — with an intercept the converged
    fit matches it in expectation).
    """
    names = ["intercept"] + list(x_cols)
    k = len(names)
    data = df.select(
        F.col(y_col).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        *[F.col(c).cast("long").alias(f"x{i + 1}") for i, c in enumerate(x_cols)],
    )
    data = compact_cut(data)  # fit-loop input: cut + adaptive coalesce
    n = data.count()
    arr = F.array(*[F.lit(v) for v in _EXP_TABLE])
    w = [0] * k
    for _ in range(n_steps):
        z = " + ".join(f"x{i} * CAST({wi} AS BIGINT)" for i, wi in enumerate(w))
        mu = F.element_at(arr, F.expr(_exp_bucket_sql(z)).cast("int"))
        r = (F.col("y") * F.lit(1_000_000) - mu).cast("long")
        g = data.agg(
            *[F.sum(F.col(f"x{i}") * r).alias(f"g{i}") for i in range(k)]
        ).first()
        w = [
            wi + (1 if gi >= 0 else -1) * (abs(int(gi)) // (scale_den * n))
            for wi, gi in zip(w, g)
        ]
    sum_y = data.agg(F.sum("y")).first()[0]
    rows = (
        [(nm, int(wi)) for nm, wi in zip(names, w)]
        + [("__n", int(n)), ("__sum_y", int(sum_y))]
    )
    return local_df(df.sparkSession, rows, "feature string, w_micro long")


def poisson_fit_oracle(
    units_sql: str,
    y_sql: str,
    x_sqls: list[tuple[str, str]],
    n_steps: int = 20,
    scale_den: int = 64,
) -> str:
    """DuckDB twin of :func:`poisson_fit` (unrolled MATERIALIZED CTEs)."""
    lit = "[" + ",".join(str(v) for v in _EXP_TABLE) + "]"
    names = ["intercept"] + [nm for nm, _ in x_sqls]
    k = len(names)
    feat = ", ".join(
        ["CAST(1 AS BIGINT) AS x0"]
        + [f"CAST(({sql}) AS BIGINT) AS x{i + 1}" for i, (_, sql) in enumerate(x_sqls)]
    )
    parts = [
        f"""d AS MATERIALIZED (
          SELECT CAST(({y_sql}) AS BIGINT) AS y, {feat} FROM ({units_sql})),
        meta AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))})"""
    ]
    for s in range(n_steps):
        zf = " + ".join(f"d.x{i} * w{s}.w{i}" for i in range(k))
        zc = f"greatest(least({zf}, {_EXP_CLAMP_HI - 1}), {_EXP_CLAMP_LO})"
        mu = f"({lit})[((({zc}) + {-_EXP_CLAMP_LO}) // {_SIG_STEP}) + 1]"
        gs = ", ".join(
            f"CAST(SUM(d.x{i} * (d.y * 1000000 - {mu})) AS BIGINT) AS g{i}"
            for i in range(k)
        )
        ws = ", ".join(
            f"w{s}.w{i} + (CASE WHEN g{s}.g{i} >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(g{s}.g{i}) // ({scale_den} * meta.n)) AS w{i}"
            for i in range(k)
        )
        parts.append(f"g{s} AS MATERIALIZED (SELECT {gs} FROM d, w{s})")
        parts.append(
            f"w{s + 1} AS MATERIALIZED (SELECT {ws} FROM w{s}, g{s}, meta)"
        )
    weight_rows = " UNION ALL ".join(
        f"SELECT '{nm}' AS feature, w{i} AS w_micro FROM w{n_steps}"
        for i, nm in enumerate(names)
    )
    return f"""
        WITH {", ".join(parts)}
        {weight_rows}
        UNION ALL SELECT '__n', n FROM meta
        UNION ALL SELECT '__sum_y', CAST(SUM(y) AS BIGINT) FROM d
    """


def srm_check(
    events: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Sample-ratio-mismatch guard for a 50/50 two-arm experiment — the
    FIRST check an experimentation pipeline runs, before any lift test
    (``ab_proportion_test`` / ``ab_cuped_test``): if the randomizer
    delivered arms whose sizes a fair coin would essentially never
    produce, the assignment is broken and every downstream statistic is
    garbage. Unit = distinct key; arm = the same portable parity split
    ``key % 2`` the lift tests use.

    The 1-df chi-square against equal expected counts collapses exactly
    to ``(n_a - n_b)^2 / n``, computed in micro units with the exact
    split form ``(d^2 div n)*1e6 + ((d^2 % n)*1e6) div n`` — every
    intermediate fits int64 for ``n`` up to ~3.0e9 units (``d^2 <
    2^63``). The flag compares against the embedded critical value
    3.841459 (chi2_{0.05, 1} — driver-embedded literal, DESIGN.md: no
    engine transcendental).

    Output (tall): ``(n_a, n_b, chi2_micro, srm_flag)``.

    Scale: one distinct-key aggregation + one two-group rollup; the
    monoid is two counts, so a live twin is one update-mode aggregation.
    """
    per_unit = events.select(
        F.col(key_col).cast("long").alias("__k")
    ).distinct()
    s = per_unit.agg(
        F.sum(F.expr("CAST(__k % 2 = 0 AS BIGINT)")).alias("n_a"),
        F.sum(F.expr("CAST(__k % 2 = 1 AS BIGINT)")).alias("n_b"),
    )
    return s.selectExpr(
        "stack(4,"
        " 'n_a', n_a,"
        " 'n_b', n_b,"
        " 'chi2_micro', CASE WHEN n_a + n_b > 0 THEN"
        "   (((n_a - n_b) * (n_a - n_b)) div (n_a + n_b)) * 1000000"
        "   + ((((n_a - n_b) * (n_a - n_b)) % (n_a + n_b)) * 1000000)"
        "     div (n_a + n_b) ELSE 0 END,"
        " 'srm_flag', CASE WHEN n_a + n_b > 0 AND"
        "   (((n_a - n_b) * (n_a - n_b)) div (n_a + n_b)) * 1000000"
        "   + ((((n_a - n_b) * (n_a - n_b)) % (n_a + n_b)) * 1000000)"
        "     div (n_a + n_b) > 3841459"
        "   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def srm_check_oracle(units_sql: str) -> str:
    """DuckDB twin of :func:`srm_check` (identical split-form chi2 and
    embedded critical value). ``units_sql`` must yield one ``k`` per
    row (pre-distinct or not — the dedupe is inside)."""
    return f"""
        WITH per_unit AS MATERIALIZED (
          SELECT DISTINCT CAST(k AS BIGINT) AS k FROM ({units_sql})),
        s AS MATERIALIZED (
          SELECT CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b
          FROM per_unit),
        c AS MATERIALIZED (
          SELECT n_a, n_b,
                 CASE WHEN n_a + n_b > 0 THEN
                   (((n_a - n_b) * (n_a - n_b)) // (n_a + n_b)) * 1000000
                   + ((((n_a - n_b) * (n_a - n_b)) % (n_a + n_b)) * 1000000)
                     // (n_a + n_b)
                 ELSE 0 END AS chi2_micro
          FROM s)
        SELECT 'n_a' AS feature, CAST(n_a AS BIGINT) AS value FROM c
        UNION ALL SELECT 'n_b', n_b FROM c
        UNION ALL SELECT 'chi2_micro', chi2_micro FROM c
        UNION ALL SELECT 'srm_flag',
          CASE WHEN chi2_micro > 3841459 THEN 1 ELSE 0 END FROM c
    """


def ab_power_mde(
    events: DataFrame,
    key_col: str = "user_id",
    success_type: str = "purchase",
    type_col: str = "event_type",
    min_successes: int = 1,
) -> DataFrame:
    """Design-stage power analysis for the 50/50 two-proportion test —
    the question to answer BEFORE reading ``ab_proportion_test``: at the
    current sample sizes and pooled base rate, what absolute lift is
    detectable at alpha = 0.05 (two-sided) with power = 0.8? The
    standard closed form::

        MDE = (z_{a/2} + z_b) * sqrt( p(1-p) * (1/n_a + 1/n_b) )

    with the z sum EMBEDDED as the integer literal 2.801586e6 micro
    (1.959964 + 0.841621 — driver-embedded constants, DESIGN.md: no
    engine transcendental). Unit/arm/success definitions are exactly
    ``ab_proportion_test``'s, so the two rows read the same experiment.

    Integer contract: the variance radicand is accumulated PER ARM
    (``pm(1e6-pm) div n_a + pm(1e6-pm) div n_b``, micro^2 units) — the
    per-side-division rule; each floor loses < 1 micro^2 and the form
    is overflow-free for ANY arm size (pm(1e6-pm) <= 2.5e11). The root
    is floor(sqrt(double)) — lossless below 2^53, and the radicand is
    <= 5e11. Output (tall): ``n_a, n_b, p_pool_micro, mde_abs_micro,
    mde_rel_micro``.
    """
    z_sum_micro = 2_801_586  # 1.959964 + 0.841621, in micro
    per_unit = events.groupBy(F.col(key_col).alias("__k")).agg(
        (
            F.sum(F.when(F.col(type_col) == success_type, 1).otherwise(0))
            >= min_successes
        )
        .cast("long")
        .alias("__s")
    )
    s = per_unit.agg(
        F.sum(F.expr("CAST(__k % 2 = 0 AS BIGINT)")).alias("n_a"),
        F.sum(F.expr("CAST(__k % 2 = 1 AS BIGINT)")).alias("n_b"),
        F.sum("__s").alias("conv"),
    )
    return s.selectExpr(
        "n_a",
        "n_b",
        "CASE WHEN n_a + n_b > 0 THEN (conv * 1000000) div (n_a + n_b)"
        " ELSE 0 END AS pm",
    ).selectExpr(
        "stack(5,"
        " 'n_a', n_a,"
        " 'n_b', n_b,"
        " 'p_pool_micro', pm,"
        " 'mde_abs_micro', CASE WHEN n_a > 0 AND n_b > 0 THEN"
        f"   ({z_sum_micro} * CAST(floor(sqrt(CAST("
        "     (pm * (1000000 - pm)) div n_a"
        "     + (pm * (1000000 - pm)) div n_b AS DOUBLE))) AS BIGINT))"
        "   div 1000000 ELSE 0 END,"
        " 'mde_rel_micro', CASE WHEN n_a > 0 AND n_b > 0 AND pm > 0 THEN"
        f"   ((({z_sum_micro} * CAST(floor(sqrt(CAST("
        "     (pm * (1000000 - pm)) div n_a"
        "     + (pm * (1000000 - pm)) div n_b AS DOUBLE))) AS BIGINT))"
        "   div 1000000) * 1000000) div pm ELSE 0 END"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ab_power_mde_oracle(
    events_table: str = "events",
    key_col: str = "user_id",
    success_type: str = "purchase",
    min_successes: int = 1,
) -> str:
    """DuckDB twin of :func:`ab_power_mde` (identical per-arm radicand,
    floored IEEE sqrt, embedded z sum)."""
    z = 2_801_586
    mde = (
        f"({z} * CAST(floor(sqrt(CAST("
        "  (pm * (1000000 - pm)) // n_a"
        "  + (pm * (1000000 - pm)) // n_b AS DOUBLE))) AS BIGINT))"
        " // 1000000"
    )
    return f"""
        WITH per_unit AS MATERIALIZED (
          SELECT CAST({key_col} AS BIGINT) AS k,
                 CAST(SUM(CASE WHEN event_type = '{success_type}'
                          THEN 1 ELSE 0 END) >= {min_successes}
                   AS BIGINT) AS s
          FROM {events_table} GROUP BY 1),
        tot AS MATERIALIZED (
          SELECT CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b,
                 CAST(SUM(s) AS BIGINT) AS conv
          FROM per_unit),
        base AS MATERIALIZED (
          SELECT n_a, n_b,
                 CASE WHEN n_a + n_b > 0 THEN
                   (conv * 1000000) // (n_a + n_b) ELSE 0 END AS pm
          FROM tot)
        SELECT 'n_a' AS feature, CAST(n_a AS BIGINT) AS value FROM base
        UNION ALL SELECT 'n_b', n_b FROM base
        UNION ALL SELECT 'p_pool_micro', pm FROM base
        UNION ALL SELECT 'mde_abs_micro',
          CASE WHEN n_a > 0 AND n_b > 0 THEN {mde} ELSE 0 END FROM base
        UNION ALL SELECT 'mde_rel_micro',
          CASE WHEN n_a > 0 AND n_b > 0 AND pm > 0 THEN
            (({mde}) * 1000000) // pm ELSE 0 END FROM base
    """


def ab_winsorized_lift(
    events: DataFrame,
    key_col: str = "user_id",
    value_type: str = "purchase",
    type_col: str = "event_type",
    pct: int = 99,
) -> DataFrame:
    """Winsorized-mean lift for a heavy-tailed per-unit metric — the
    robust companion to ``ab_proportion_test`` when the metric is a
    COUNT/amount rather than a flag: a single whale unit can swamp a
    raw mean diff, so both arms are capped at the POOLED ``pct``-th
    percentile (shared threshold — capping each arm at its own
    percentile would bias the diff) before the means are compared.

    Exact integer mechanics (round-8 rank-statistics device): per-unit
    metric ``y`` (one aggregation), then the VALUE-COUNT monoid — the
    per-value relation is metric-cardinality-sized, so the rank scan is
    a bounded window (benign class): threshold = min value whose
    cumulative count reaches ``ceil(pct/100 * n)``; winsorized sums are
    ``sum(min(y, thr))`` per arm, exact BIGINTs, means in micro via one
    div each, lift a plain subtraction (can be negative — no division
    involved, so no sign-safety needed).

    Output (tall): ``(thr, n_a, n_b, wmean_a_micro, wmean_b_micro,
    lift_micro)``.

    Scale: two hash aggregations + one bounded window over the distinct
    metric values; state never exceeds the value cardinality.
    """
    from pyspark.sql import Window

    per_unit = events.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(
            F.when(F.col(type_col) == value_type, 1).otherwise(0)
        ).cast("long").alias("y")
    )
    # value-count monoid + total
    vc = per_unit.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vc.select(
        "y", "c", F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.orderBy("y").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    thr = ranked.filter(
        F.expr(f"cum >= ((({pct}) * n) + 99) div 100")
    ).agg(F.min("y").alias("thr"))
    arms = (
        per_unit.crossJoin(F.broadcast(thr))
        .select(
            (F.col("__k") % 2).alias("__g"),
            F.least(F.col("y"), F.col("thr")).alias("__wy"),
            "thr",
        )
        .groupBy()
        .agg(
            F.max("thr").alias("thr"),
            F.sum(F.expr("CAST(__g = 0 AS BIGINT)")).alias("n_a"),
            F.sum(F.expr("CAST(__g = 1 AS BIGINT)")).alias("n_b"),
            F.sum(F.expr("CASE WHEN __g = 0 THEN __wy ELSE 0 END")).alias("s_a"),
            F.sum(F.expr("CASE WHEN __g = 1 THEN __wy ELSE 0 END")).alias("s_b"),
        )
    )
    return arms.selectExpr(
        "stack(6,"
        " 'thr', thr,"
        " 'n_a', n_a,"
        " 'n_b', n_b,"
        " 'wmean_a_micro', CASE WHEN n_a > 0 THEN (s_a * 1000000) div n_a"
        "   ELSE 0 END,"
        " 'wmean_b_micro', CASE WHEN n_b > 0 THEN (s_b * 1000000) div n_b"
        "   ELSE 0 END,"
        " 'lift_micro',"
        "   (CASE WHEN n_a > 0 THEN (s_a * 1000000) div n_a ELSE 0 END)"
        "   - (CASE WHEN n_b > 0 THEN (s_b * 1000000) div n_b ELSE 0 END)"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ab_winsorized_lift_oracle(
    events_table: str = "events",
    key_col: str = "user_id",
    value_type: str = "purchase",
    pct: int = 99,
) -> str:
    """DuckDB twin of :func:`ab_winsorized_lift` (identical value-count
    rank scan, shared pooled threshold, floored micro means)."""
    return f"""
        WITH per_unit AS MATERIALIZED (
          SELECT CAST({key_col} AS BIGINT) AS k,
                 CAST(SUM(CASE WHEN event_type = '{value_type}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM {events_table} GROUP BY 1),
        vc AS MATERIALIZED (
          SELECT y, CAST(COUNT(*) AS BIGINT) AS c
          FROM per_unit GROUP BY 1),
        ranked AS MATERIALIZED (
          SELECT y, c,
                 CAST(SUM(c) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(SUM(c) OVER () AS BIGINT) AS n
          FROM vc),
        t AS MATERIALIZED (
          SELECT CAST(MIN(y) AS BIGINT) AS thr
          FROM ranked WHERE cum >= ((({pct}) * n) + 99) // 100),
        arms AS MATERIALIZED (
          SELECT MAX(thr) AS thr,
                 CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN k % 2 = 0 THEN least(y, thr)
                          ELSE 0 END) AS BIGINT) AS s_a,
                 CAST(SUM(CASE WHEN k % 2 = 1 THEN least(y, thr)
                          ELSE 0 END) AS BIGINT) AS s_b
          FROM per_unit, t)
        SELECT 'thr' AS feature, CAST(thr AS BIGINT) AS value FROM arms
        UNION ALL SELECT 'n_a', n_a FROM arms
        UNION ALL SELECT 'n_b', n_b FROM arms
        UNION ALL SELECT 'wmean_a_micro',
          CASE WHEN n_a > 0 THEN (s_a * 1000000) // n_a ELSE 0 END
          FROM arms
        UNION ALL SELECT 'wmean_b_micro',
          CASE WHEN n_b > 0 THEN (s_b * 1000000) // n_b ELSE 0 END
          FROM arms
        UNION ALL SELECT 'lift_micro',
          (CASE WHEN n_a > 0 THEN (s_a * 1000000) // n_a ELSE 0 END)
          - (CASE WHEN n_b > 0 THEN (s_b * 1000000) // n_b ELSE 0 END)
          FROM arms
    """


def did_from_cells(cells: DataFrame) -> DataFrame:
    """The difference-in-differences algebra over an already-aggregated
    2x2 cell relation ``(g, p, n, s)`` (g: 1 = treated, p: 1 = post;
    one count + outcome-sum monoid row per cell) — the
    ``<op>_from_counts`` factor shape (DESIGN.md round-10): a live DiD
    monitor keeps the four cells in one update-mode aggregation and
    reads this identical algebra. Missing cells read as n = 0 and their
    mean contributes 0 (audited via the cell counts in the output).

    All means in micro via one non-negative div per cell; the DiD
    itself is plain subtractions of micro means (no division — no
    sign-safety needed).
    """
    pivot = cells.groupBy().agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("g") == g) & (F.col("p") == p), F.col(c)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"{c}_{'t' if g else 'c'}_{'post' if p else 'pre'}")
            for g in (0, 1)
            for p in (0, 1)
            for c in ("n", "s")
        ]
    )
    m = {
        cell: (
            f"CASE WHEN n_{cell} > 0 THEN (s_{cell} * 1000000)"
            f" div n_{cell} ELSE 0 END"
        )
        for cell in ("t_pre", "t_post", "c_pre", "c_post")
    }
    return pivot.selectExpr(
        "stack(9,"
        f" 'm_t_pre_micro', {m['t_pre']},"
        f" 'm_t_post_micro', {m['t_post']},"
        f" 'm_c_pre_micro', {m['c_pre']},"
        f" 'm_c_post_micro', {m['c_post']},"
        f" 'did_micro', ({m['t_post']}) - ({m['t_pre']})"
        f"   - (({m['c_post']}) - ({m['c_pre']})),"
        " '__n_t_pre', n_t_pre,"
        " '__n_t_post', n_t_post,"
        " '__n_c_pre', n_c_pre,"
        " '__n_c_post', n_c_post"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def did_estimate(
    events: DataFrame,
    cutoff_ts: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    outcome_type: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """Difference-in-differences over event-level outcomes — the
    quasi-experimental estimator when there was no randomization but
    there IS a before/after boundary: the treated group's post-pre
    change, net of the control group's (which absorbs any shared time
    trend). Completes the causal family: att_strata
    (subclassification), ipw/aipw (weighting), overlap (positivity),
    this (panel/time identification).

    Group = the portable parity split ``key % 2`` (treated = 1); period
    = ``ts >= cutoff_ts`` (post = 1); outcome = the event being an
    ``outcome_type`` (0/1 per event — repeated cross-section form, so
    the four cells are pure count/sum monoids and the live twin is ONE
    update-mode aggregation reading :func:`did_from_cells`).

    Identification caveat (documented, not enforced): DiD is only as
    good as the parallel-trends assumption; read with the pre-period
    means this emits.
    """
    cells = events.select(
        F.expr(f"CAST({key_col} % 2 = 1 AS BIGINT)").alias("g"),
        F.expr(
            f"CAST({ts_col} >= TIMESTAMP '{cutoff_ts}' AS BIGINT)"
        ).alias("p"),
        F.expr(
            f"CAST({type_col} = '{outcome_type}' AS BIGINT)"
        ).alias("y"),
    ).groupBy("g", "p").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    return did_from_cells(cells)


def did_estimate_oracle(
    events_table: str = "events",
    cutoff_ts: str = "2024-01-15 00:00:00",
    key_col: str = "user_id",
    outcome_type: str = "purchase",
) -> str:
    """DuckDB twin of :func:`did_estimate` (identical cells, micro
    means, and subtraction algebra)."""
    m = {
        cell: (
            f"CASE WHEN n_{cell} > 0 THEN (s_{cell} * 1000000)"
            f" // n_{cell} ELSE 0 END"
        )
        for cell in ("t_pre", "t_post", "c_pre", "c_post")
    }
    return f"""
        WITH cells AS MATERIALIZED (
          SELECT CAST({key_col} % 2 = 1 AS BIGINT) AS g,
                 CAST(ts >= TIMESTAMP '{cutoff_ts}' AS BIGINT) AS p,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN event_type = '{outcome_type}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS s
          FROM {events_table} GROUP BY 1, 2),
        cellw AS MATERIALIZED (
          SELECT
            CAST(COALESCE(MAX(CASE WHEN g = 1 AND p = 0 THEN n END), 0)
              AS BIGINT) AS n_t_pre,
            CAST(COALESCE(MAX(CASE WHEN g = 1 AND p = 0 THEN s END), 0)
              AS BIGINT) AS s_t_pre,
            CAST(COALESCE(MAX(CASE WHEN g = 1 AND p = 1 THEN n END), 0)
              AS BIGINT) AS n_t_post,
            CAST(COALESCE(MAX(CASE WHEN g = 1 AND p = 1 THEN s END), 0)
              AS BIGINT) AS s_t_post,
            CAST(COALESCE(MAX(CASE WHEN g = 0 AND p = 0 THEN n END), 0)
              AS BIGINT) AS n_c_pre,
            CAST(COALESCE(MAX(CASE WHEN g = 0 AND p = 0 THEN s END), 0)
              AS BIGINT) AS s_c_pre,
            CAST(COALESCE(MAX(CASE WHEN g = 0 AND p = 1 THEN n END), 0)
              AS BIGINT) AS n_c_post,
            CAST(COALESCE(MAX(CASE WHEN g = 0 AND p = 1 THEN s END), 0)
              AS BIGINT) AS s_c_post
          FROM cells)
        SELECT 'm_t_pre_micro' AS feature,
               CAST({m['t_pre']} AS BIGINT) AS value FROM cellw
        UNION ALL SELECT 'm_t_post_micro', {m['t_post']} FROM cellw
        UNION ALL SELECT 'm_c_pre_micro', {m['c_pre']} FROM cellw
        UNION ALL SELECT 'm_c_post_micro', {m['c_post']} FROM cellw
        UNION ALL SELECT 'did_micro',
          ({m['t_post']}) - ({m['t_pre']})
          - (({m['c_post']}) - ({m['c_pre']})) FROM cellw
        UNION ALL SELECT '__n_t_pre', n_t_pre FROM cellw
        UNION ALL SELECT '__n_t_post', n_t_post FROM cellw
        UNION ALL SELECT '__n_c_pre', n_c_pre FROM cellw
        UNION ALL SELECT '__n_c_post', n_c_post FROM cellw
    """


def ab_exposure_lift(
    events: DataFrame,
    key_col: str = "user_id",
    exposure_type: str = "click",
    outcome_type: str = "purchase",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Exposure-gated conversion lift — the A/B correctness guard the
    raw lift tests skip: a unit's clock starts at its FIRST exposure
    event, outcomes BEFORE exposure must not count (they predate the
    treatment and dilute/bias the diff), and never-exposed units leave
    the denominator entirely (they never saw either variant).

    Mechanics: one per-unit aggregation for the first-exposure
    timestamp (a conditional MIN monoid), one broadcast-or-shuffled
    equi-join back to the event stream, one conditional rollup —
    outcomes count iff ``ts >= expo_ts`` (inclusive: an outcome at the
    exposure instant counts, identically in both engines). Post-
    exposure outcome counts are exact BIGINTs; means in micro via one
    div per arm; lift a plain subtraction.

    Output (tall): ``(n_exposed_a, n_exposed_b, n_units,
    post_mean_a_micro, post_mean_b_micro, lift_micro,
    exposure_rate_micro)``.

    Scale: two hash aggregations + one equi-join on the unit key (the
    same key both sides already partition by — co-located shuffle).
    """
    per_unit = events.groupBy(F.col(key_col).alias("__k")).agg(
        F.min(
            F.when(F.col(type_col) == exposure_type, F.col(ts_col))
        ).alias("expo_ts")
    )
    expo = per_unit.filter(F.col("expo_ts").isNotNull())
    n_units = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(
            F.expr("CAST(expo_ts IS NOT NULL AS BIGINT)")
        ).cast("long").alias("n_exposed"),
    )
    post = (
        events.select(
            F.col(key_col).alias("__k"),
            F.col(ts_col).alias("__ts"),
            F.col(type_col).alias("__ty"),
        )
        .join(expo, "__k")
        .groupBy("__k", "expo_ts")
        .agg(
            F.sum(
                F.when(
                    (F.col("__ty") == outcome_type)
                    & (F.col("__ts") >= F.col("expo_ts")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("y")
        )
    )
    # COALESCE: zero exposed units must read counts 0, not NULLs
    arms = post.groupBy().agg(
        F.coalesce(
            F.sum(F.expr("CAST(__k % 2 = 0 AS BIGINT)")), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.expr("CAST(__k % 2 = 1 AS BIGINT)")), F.lit(0)
        ).alias("n_b"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN __k % 2 = 0 THEN y ELSE 0 END")),
            F.lit(0),
        ).alias("s_a"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN __k % 2 = 1 THEN y ELSE 0 END")),
            F.lit(0),
        ).alias("s_b"),
    )
    return arms.crossJoin(F.broadcast(n_units)).selectExpr(
        "stack(7,"
        " 'n_exposed_a', n_a,"
        " 'n_exposed_b', n_b,"
        " 'n_units', n_units,"
        " 'post_mean_a_micro', CASE WHEN n_a > 0 THEN"
        "   (s_a * 1000000) div n_a ELSE 0 END,"
        " 'post_mean_b_micro', CASE WHEN n_b > 0 THEN"
        "   (s_b * 1000000) div n_b ELSE 0 END,"
        " 'lift_micro',"
        "   (CASE WHEN n_a > 0 THEN (s_a * 1000000) div n_a ELSE 0 END)"
        "   - (CASE WHEN n_b > 0 THEN (s_b * 1000000) div n_b ELSE 0 END),"
        " 'exposure_rate_micro', CASE WHEN n_units > 0 THEN"
        "   (n_exposed * 1000000) div n_units ELSE 0 END"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ab_exposure_lift_oracle(
    events_table: str = "events",
    key_col: str = "user_id",
    exposure_type: str = "click",
    outcome_type: str = "purchase",
) -> str:
    """DuckDB twin of :func:`ab_exposure_lift` (identical first-
    exposure min, inclusive gate, floored micro means)."""
    return f"""
        WITH per_unit AS MATERIALIZED (
          SELECT CAST({key_col} AS BIGINT) AS k,
                 MIN(CASE WHEN event_type = '{exposure_type}'
                     THEN ts END) AS expo_ts
          FROM {events_table} GROUP BY 1),
        units AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
                 CAST(SUM(CASE WHEN expo_ts IS NOT NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS n_exposed
          FROM per_unit),
        post AS MATERIALIZED (
          SELECT e.k, CAST(SUM(CASE WHEN ev.event_type =
                   '{outcome_type}' AND ev.ts >= e.expo_ts THEN 1
                   ELSE 0 END) AS BIGINT) AS y
          FROM (SELECT k, expo_ts FROM per_unit
                WHERE expo_ts IS NOT NULL) e
          JOIN {events_table} ev ON CAST(ev.{key_col} AS BIGINT) = e.k
          GROUP BY 1),
        arms AS MATERIALIZED (
          SELECT CAST(COALESCE(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0
                   END), 0) AS BIGINT) AS n_a,
                 CAST(COALESCE(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0
                   END), 0) AS BIGINT) AS n_b,
                 CAST(COALESCE(SUM(CASE WHEN k % 2 = 0 THEN y ELSE 0
                   END), 0) AS BIGINT) AS s_a,
                 CAST(COALESCE(SUM(CASE WHEN k % 2 = 1 THEN y ELSE 0
                   END), 0) AS BIGINT) AS s_b
          FROM post)
        SELECT 'n_exposed_a' AS feature, CAST(n_a AS BIGINT) AS value
        FROM arms
        UNION ALL SELECT 'n_exposed_b', n_b FROM arms
        UNION ALL SELECT 'n_units', n_units FROM units
        UNION ALL SELECT 'post_mean_a_micro',
          CASE WHEN n_a > 0 THEN (s_a * 1000000) // n_a ELSE 0 END
          FROM arms
        UNION ALL SELECT 'post_mean_b_micro',
          CASE WHEN n_b > 0 THEN (s_b * 1000000) // n_b ELSE 0 END
          FROM arms
        UNION ALL SELECT 'lift_micro',
          (CASE WHEN n_a > 0 THEN (s_a * 1000000) // n_a ELSE 0 END)
          - (CASE WHEN n_b > 0 THEN (s_b * 1000000) // n_b ELSE 0 END)
          FROM arms
        UNION ALL SELECT 'exposure_rate_micro',
          CASE WHEN n_units > 0 THEN (n_exposed * 1000000) // n_units
          ELSE 0 END FROM units
    """


def switchback_buckets(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_minutes: int = 60,
    washout_minutes: int = 10,
) -> DataFrame:
    """The switchback monoid: per-(time-bucket, arm) counters for a
    TIME-randomized experiment — the design used when treating one unit
    treats its neighbors too (marketplace pricing, ranking, dispatch),
    so unit-randomization is invalid and whole time slices alternate
    arms instead.

    Mechanics: bucket = integer micros div bucket span (the round-6
    portable time rule: ``unix_micros(cast ts)`` ↔ ``epoch_us``); arm =
    md5 hash bucket % 2 (the portable-hash device — deterministic
    time-slice randomization, no RNG state); rows inside the first
    ``washout_minutes`` of each bucket are EXCLUDED from the counters
    (they still carry the previous slice's treatment — the carryover
    interference the design exists to contain) but counted in ``n_exc``.
    Outcomes quantize to micro BEFORE summation (quantize-before-sum).

    Output per (bucket, arm): ``(bucket, arm, n_inc, s_inc, n_exc)`` —
    commutative sums, so this IS the live-twin state shape.

    Scale: ONE map-side-combined aggregation keyed by time bucket
    (bounded by the observation span, never data-sized).
    """
    b_us = bucket_minutes * 60_000_000
    w_us = washout_minutes * 60_000_000
    return (
        events.select(
            F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("__us"),
            F.expr(
                f"CAST(floor({value_col} * 1000000 + 0.5) AS BIGINT)"
            ).alias("__yq"),
        )
        .select(
            F.expr(f"__us div {b_us}").alias("bucket"),
            F.expr(
                "CAST(conv(substr(md5(CAST(__us div "
                f"{b_us} AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
            F.expr(f"CAST(__us % {b_us} >= {w_us} AS BIGINT)").alias("__inc"),
            F.col("__yq"),
        )
        .groupBy("bucket", "arm")
        .agg(
            F.sum("__inc").cast("long").alias("n_inc"),
            F.sum(F.col("__inc") * F.col("__yq")).cast("long").alias("s_inc"),
            F.sum(1 - F.col("__inc")).cast("long").alias("n_exc"),
        )
    )


def switchback_from_buckets(buckets: DataFrame) -> DataFrame:
    """Read-time algebra over the :func:`switchback_buckets` monoid —
    the shared core of the batch row and the live twin. Two estimates
    per arm pair: ROW-weighted (plain mean over included rows) and
    BUCKET-weighted (mean of per-bucket means — each randomization unit
    counts once, the switchback-correct read; buckets with zero
    included rows drop out). All divisions sign-and-magnitude
    (:func:`_sm_div` — outcome sums may be negative).

    Output (tall): bucket/row counts per arm, ``n_rows_excluded``,
    row-weighted means + lift, bucket-weighted means + lift (micro).
    """
    bm = buckets.select(
        "arm",
        "n_inc",
        "s_inc",
        "n_exc",
        F.expr(
            "CASE WHEN n_inc > 0 THEN "
            + _sm_div("s_inc", "n_inc")
            + " ELSE 0 END"
        ).alias("bm"),
        F.expr("CAST(n_inc > 0 AS BIGINT)").alias("live"),
    )
    g = bm.agg(
        *[
            F.sum(F.expr(f"CASE WHEN arm = {a} THEN {c} ELSE 0 END"))
            .cast("long")
            .alias(f"{n}_{t}")
            for a, t in ((0, "a"), (1, "b"))
            for n, c in (
                ("nb", "live"),
                ("nr", "n_inc"),
                ("sr", "s_inc"),
                ("sbm", "bm"),
            )
        ],
        F.sum("n_exc").cast("long").alias("n_exc"),
    )
    mr = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN "
        + _sm_div(f"sr_{t}", f"nr_{t}")
        + " ELSE 0 END"
    )
    mb = lambda t: (  # noqa: E731
        f"CASE WHEN nb_{t} > 0 THEN "
        + _sm_div(f"sbm_{t}", f"nb_{t}")
        + " ELSE 0 END"
    )
    return g.selectExpr(
        "stack(11,"
        " 'n_buckets_a', nb_a,"
        " 'n_buckets_b', nb_b,"
        " 'n_rows_a', nr_a,"
        " 'n_rows_b', nr_b,"
        " 'n_rows_excluded', n_exc,"
        f" 'mean_rows_a_micro', {mr('a')},"
        f" 'mean_rows_b_micro', {mr('b')},"
        f" 'lift_rows_micro', ({mr('a')}) - ({mr('b')}),"
        f" 'mean_buckets_a_micro', {mb('a')},"
        f" 'mean_buckets_b_micro', {mb('b')},"
        f" 'lift_buckets_micro', ({mb('a')}) - ({mb('b')})"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ab_switchback(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_minutes: int = 60,
    washout_minutes: int = 10,
) -> DataFrame:
    """Switchback (time-randomized) experiment analysis — see
    :func:`switchback_buckets` for the design and
    :func:`switchback_from_buckets` for the read. Estimator-quality
    pin (tests/test_ml.py): with a planted carryover effect bleeding
    into each bucket's head, washout=0 is biased toward zero and the
    washout read recovers the exact planted lift."""
    return switchback_from_buckets(
        switchback_buckets(
            events, ts_col, value_col, bucket_minutes, washout_minutes
        )
    )


def ab_switchback_oracle(
    events_table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_minutes: int = 60,
    washout_minutes: int = 10,
) -> str:
    """DuckDB twin of :func:`ab_switchback` (identical bucket hash,
    washout gate, micro quantization, sign-and-magnitude reads)."""
    b_us = bucket_minutes * 60_000_000
    w_us = washout_minutes * 60_000_000
    mr = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN "
        + _sm_div(f"sr_{t}", f"nr_{t}", "//")
        + " ELSE 0 END"
    )
    mb = lambda t: (  # noqa: E731
        f"CASE WHEN nb_{t} > 0 THEN "
        + _sm_div(f"sbm_{t}", f"nb_{t}", "//")
        + " ELSE 0 END"
    )
    arm_sums = ",\n                 ".join(
        f"CAST(COALESCE(SUM(CASE WHEN arm = {a} THEN {c} ELSE 0 END), 0)"
        f" AS BIGINT) AS {n}_{t}"
        for a, t in ((0, "a"), (1, "b"))
        for n, c in (
            ("nb", "live"),
            ("nr", "n_inc"),
            ("sr", "s_inc"),
            ("sbm", "bm"),
        )
    )
    return f"""
        WITH rows_q AS MATERIALIZED (
          SELECT epoch_us({ts_col}) // {b_us} AS bucket,
                 CAST(concat('0x', substr(md5(CAST(epoch_us({ts_col})
                   // {b_us} AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS arm,
                 CASE WHEN epoch_us({ts_col}) % {b_us} >= {w_us}
                   THEN 1 ELSE 0 END AS inc,
                 CAST(floor({value_col} * 1000000 + 0.5) AS BIGINT) AS yq
          FROM {events_table}),
        buckets AS MATERIALIZED (
          SELECT bucket, arm,
                 CAST(SUM(inc) AS BIGINT) AS n_inc,
                 CAST(SUM(inc * yq) AS BIGINT) AS s_inc,
                 CAST(SUM(1 - inc) AS BIGINT) AS n_exc
          FROM rows_q GROUP BY 1, 2),
        bm AS MATERIALIZED (
          SELECT arm, n_inc, s_inc, n_exc,
                 CASE WHEN n_inc > 0 THEN
                   {_sm_div("s_inc", "n_inc", "//")} ELSE 0 END AS bm,
                 CASE WHEN n_inc > 0 THEN 1 ELSE 0 END AS live
          FROM buckets),
        g AS MATERIALIZED (
          SELECT {arm_sums},
                 CAST(COALESCE(SUM(n_exc), 0) AS BIGINT) AS n_exc
          FROM bm)
        SELECT 'n_buckets_a' AS feature, CAST(nb_a AS BIGINT) AS value
        FROM g
        UNION ALL SELECT 'n_buckets_b', nb_b FROM g
        UNION ALL SELECT 'n_rows_a', nr_a FROM g
        UNION ALL SELECT 'n_rows_b', nr_b FROM g
        UNION ALL SELECT 'n_rows_excluded', n_exc FROM g
        UNION ALL SELECT 'mean_rows_a_micro', CAST({mr('a')} AS BIGINT)
          FROM g
        UNION ALL SELECT 'mean_rows_b_micro', CAST({mr('b')} AS BIGINT)
          FROM g
        UNION ALL SELECT 'lift_rows_micro',
          CAST(({mr('a')}) - ({mr('b')}) AS BIGINT) FROM g
        UNION ALL SELECT 'mean_buckets_a_micro',
          CAST({mb('a')} AS BIGINT) FROM g
        UNION ALL SELECT 'mean_buckets_b_micro',
          CAST({mb('b')} AS BIGINT) FROM g
        UNION ALL SELECT 'lift_buckets_micro',
          CAST(({mb('a')}) - ({mb('b')}) AS BIGINT) FROM g
    """


def ab_cluster_lift(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Cluster-randomized lift — the interference-aware counterpart of
    the per-row A/B read: when treatment assigns at the CLUSTER level
    (user, store, region), rows within a cluster are correlated and the
    per-row standard error is falsely tight. Reports BOTH reads so the
    design effect is visible, plus chi-square-style significance flags
    from each: with strong intra-cluster correlation the naive flag
    fires on pure noise while the cluster flag (the valid one) does not
    (pinned by tests/test_ml.py).

    Integer discipline: outcomes quantize to MILLI before any sum
    (squares must fit: ``m2 <= n * ym^2`` — ~9.2e6 rows at |value| <=
    1000; drop to centi past that). Variances use the overflow-free
    per-term form ``m2 div n - mean^2`` (floored — the contract, both
    engines); cluster means, arm means and lifts are sign-and-magnitude
    (:func:`_sm_div`). SE^2 of the lift is the per-side-division form;
    the significance gate is ``lift^2 * 1e6 > 3841459 * se2`` (embedded
    chi-square(1) critical value — the srm_check device).

    Output (tall): ``n_clusters_a/b, n_rows_a/b, lift_cluster_milli,
    lift_naive_milli, se2_cluster_milli2, se2_naive_milli2,
    sig_cluster, sig_naive``.

    Scale: one per-cluster aggregation (key-partitioned) + one
    arm-level rollup — two map-side-combined shuffles, state
    cluster-sized then O(1).
    """
    per = (
        events.select(
            F.col(key_col).cast("long").alias("__k"),
            F.expr(
                f"CAST(floor({value_col} * 1000 + 0.5) AS BIGINT)"
            ).alias("__ym"),
        )
        .groupBy("__k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__ym").cast("long").alias("s"),
            F.sum(F.col("__ym") * F.col("__ym")).cast("long").alias("s2"),
        )
        .select(
            F.expr("__k % 2").alias("arm"),
            "n",
            "s",
            "s2",
            F.expr(_sm_div("s", "n")).alias("vm"),
        )
    )
    g = per.agg(
        *[
            F.sum(F.expr(f"CASE WHEN arm = {a} THEN {c} ELSE 0 END"))
            .cast("long")
            .alias(f"{nm}_{t}")
            for a, t in ((0, "a"), (1, "b"))
            for nm, c in (
                ("nc", "1"),
                ("nr", "n"),
                ("sr", "s"),
                ("sr2", "s2"),
                ("svm", "vm"),
                ("svm2", "vm * vm"),
            )
        ],
        # rows whose key maps to NEITHER arm (NULL or negative key gives
        # arm NULL/-1) are dropped from both CASE sums — the audit row
        # below makes that loss observable (repo audit-counter convention);
        # COALESCE matches the oracle's COALESCE(SUM(n), 0) on empty input
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("nr_all"),
    )
    cm = lambda t: (  # noqa: E731
        f"CASE WHEN nc_{t} > 0 THEN "
        + _sm_div(f"svm_{t}", f"nc_{t}")
        + " ELSE 0 END"
    )
    rm = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN "
        + _sm_div(f"sr_{t}", f"nr_{t}")
        + " ELSE 0 END"
    )
    var_c = lambda t: (  # noqa: E731
        f"CASE WHEN nc_{t} > 0 THEN greatest("
        f"svm2_{t} div nc_{t} - ({cm(t)}) * ({cm(t)}), 0) ELSE 0 END"
    )
    var_r = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN greatest("
        f"sr2_{t} div nr_{t} - ({rm(t)}) * ({rm(t)}), 0) ELSE 0 END"
    )
    lift_c = f"({cm('a')}) - ({cm('b')})"
    lift_r = f"({rm('a')}) - ({rm('b')})"
    se2_c = (
        f"(CASE WHEN nc_a > 0 THEN ({var_c('a')}) div nc_a ELSE 0 END)"
        f" + (CASE WHEN nc_b > 0 THEN ({var_c('b')}) div nc_b ELSE 0 END)"
    )
    se2_r = (
        f"(CASE WHEN nr_a > 0 THEN ({var_r('a')}) div nr_a ELSE 0 END)"
        f" + (CASE WHEN nr_b > 0 THEN ({var_r('b')}) div nr_b ELSE 0 END)"
    )
    return g.selectExpr(
        "stack(11,"
        " 'n_clusters_a', nc_a,"
        " 'n_clusters_b', nc_b,"
        " 'n_rows_a', nr_a,"
        " 'n_rows_b', nr_b,"
        " '__n_rows_dropped', nr_all - nr_a - nr_b,"
        f" 'lift_cluster_milli', {lift_c},"
        f" 'lift_naive_milli', {lift_r},"
        f" 'se2_cluster_milli2', {se2_c},"
        f" 'se2_naive_milli2', {se2_r},"
        f" 'sig_cluster', CAST(({lift_c}) * ({lift_c}) * 1000000"
        f"   > 3841459 * ({se2_c}) AS BIGINT),"
        f" 'sig_naive', CAST(({lift_r}) * ({lift_r}) * 1000000"
        f"   > 3841459 * ({se2_r}) AS BIGINT)"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ab_cluster_lift_oracle(
    events_table: str = "events",
    key_col: str = "user_id",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`ab_cluster_lift` (identical milli
    quantization, per-term variance form, sign-and-magnitude reads,
    embedded chi-square gate)."""
    arm_sums = ",\n                 ".join(
        f"CAST(COALESCE(SUM(CASE WHEN arm = {a} THEN {c} ELSE 0 END), 0)"
        f" AS BIGINT) AS {nm}_{t}"
        for a, t in ((0, "a"), (1, "b"))
        for nm, c in (
            ("nc", "1"),
            ("nr", "n"),
            ("sr", "s"),
            ("sr2", "s2"),
            ("svm", "vm"),
            ("svm2", "vm * vm"),
        )
    )
    cm = lambda t: (  # noqa: E731
        f"CASE WHEN nc_{t} > 0 THEN "
        + _sm_div(f"svm_{t}", f"nc_{t}", "//")
        + " ELSE 0 END"
    )
    rm = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN "
        + _sm_div(f"sr_{t}", f"nr_{t}", "//")
        + " ELSE 0 END"
    )
    var_c = lambda t: (  # noqa: E731
        f"CASE WHEN nc_{t} > 0 THEN greatest("
        f"svm2_{t} // nc_{t} - ({cm(t)}) * ({cm(t)}), 0) ELSE 0 END"
    )
    var_r = lambda t: (  # noqa: E731
        f"CASE WHEN nr_{t} > 0 THEN greatest("
        f"sr2_{t} // nr_{t} - ({rm(t)}) * ({rm(t)}), 0) ELSE 0 END"
    )
    lift_c = f"({cm('a')}) - ({cm('b')})"
    lift_r = f"({rm('a')}) - ({rm('b')})"
    se2_c = (
        f"(CASE WHEN nc_a > 0 THEN ({var_c('a')}) // nc_a ELSE 0 END)"
        f" + (CASE WHEN nc_b > 0 THEN ({var_c('b')}) // nc_b ELSE 0 END)"
    )
    se2_r = (
        f"(CASE WHEN nr_a > 0 THEN ({var_r('a')}) // nr_a ELSE 0 END)"
        f" + (CASE WHEN nr_b > 0 THEN ({var_r('b')}) // nr_b ELSE 0 END)"
    )
    return f"""
        WITH per AS MATERIALIZED (
          SELECT k % 2 AS arm,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ym) AS BIGINT) AS s,
                 CAST(SUM(ym * ym) AS BIGINT) AS s2,
                 {_sm_div("CAST(SUM(ym) AS BIGINT)",
                          "CAST(COUNT(*) AS BIGINT)", "//")} AS vm
          FROM (SELECT CAST({key_col} AS BIGINT) AS k,
                       CAST(floor({value_col} * 1000 + 0.5) AS BIGINT)
                         AS ym
                FROM {events_table})
          GROUP BY k),
        g AS MATERIALIZED (
          SELECT {arm_sums},
                 CAST(COALESCE(SUM(n), 0) AS BIGINT) AS nr_all
          FROM per)
        SELECT 'n_clusters_a' AS feature, CAST(nc_a AS BIGINT) AS value
        FROM g
        UNION ALL SELECT 'n_clusters_b', nc_b FROM g
        UNION ALL SELECT 'n_rows_a', nr_a FROM g
        UNION ALL SELECT 'n_rows_b', nr_b FROM g
        UNION ALL SELECT '__n_rows_dropped', nr_all - nr_a - nr_b FROM g
        UNION ALL SELECT 'lift_cluster_milli',
          CAST({lift_c} AS BIGINT) FROM g
        UNION ALL SELECT 'lift_naive_milli',
          CAST({lift_r} AS BIGINT) FROM g
        UNION ALL SELECT 'se2_cluster_milli2',
          CAST({se2_c} AS BIGINT) FROM g
        UNION ALL SELECT 'se2_naive_milli2',
          CAST({se2_r} AS BIGINT) FROM g
        UNION ALL SELECT 'sig_cluster',
          CAST(CASE WHEN ({lift_c}) * ({lift_c}) * 1000000
            > 3841459 * ({se2_c}) THEN 1 ELSE 0 END AS BIGINT) FROM g
        UNION ALL SELECT 'sig_naive',
          CAST(CASE WHEN ({lift_r}) * ({lift_r}) * 1000000
            > 3841459 * ({se2_r}) THEN 1 ELSE 0 END AS BIGINT) FROM g
    """


def causal_qte(
    events: DataFrame,
    key_col: str = "user_id",
    value_type: str = "purchase",
    type_col: str = "event_type",
    pcts: tuple = (50, 90),
) -> DataFrame:
    """Quantile treatment effects — the distributional complement to the
    mean-based estimators (ipw/aipw/did): an intervention that moves the
    P90 while leaving the median alone is invisible to a mean lift, and
    heavy-tail metrics make the mean lie (see ``ab_winsorized_lift``).
    Per arm, the EXACT ``pct``-th percentile of the per-unit metric via
    the value-count rank scan (round-8 rank-statistics device: per-value
    counts, arm-partitioned cumulative window — bounded by the metric
    cardinality); QTE_p = quantile_p(treated) - quantile_p(control), a
    plain subtraction.

    Percentile contract (identical both engines): the ``ceil(pct/100 *
    n_arm)``-th order statistic — the smallest value whose cumulative
    count reaches that rank.

    Output (tall): per pct ``q{p}_a / q{p}_b / qte{p}`` plus ``n_a /
    n_b``.
    """
    from pyspark.sql import Window

    per_unit = events.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(
            F.when(F.col(type_col) == value_type, 1).otherwise(0)
        ).cast("long").alias("y")
    )
    vc = (
        per_unit.select((F.col("__k") % 2).alias("g"), "y")
        .groupBy("g", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vc.select(
        "g", "y", F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    ).localCheckpoint(eager=True)  # one scan feeds every pct branch
    out = None
    for p in pcts:
        qp = (
            ranked.filter(F.expr(f"cum >= (({p} * n) + 99) div 100"))
            .groupBy("g")
            .agg(F.min("y").alias("q"), F.max("n").alias("n"))
        )
        row = qp.groupBy().agg(
            F.max(F.when(F.col("g") == 0, F.col("q"))).alias("q_a"),
            F.max(F.when(F.col("g") == 1, F.col("q"))).alias("q_b"),
            F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n_a"),
            F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n_b"),
        ).selectExpr(
            f"stack(3,"
            f" 'q{p}_a', coalesce(q_a, 0),"
            f" 'q{p}_b', coalesce(q_b, 0),"
            f" 'qte{p}', coalesce(q_b, 0) - coalesce(q_a, 0)"
            f") AS (feature, value)"
        )
        out = row if out is None else out.unionByName(row)
        if p == pcts[0]:
            counts = qp.groupBy().agg(
                F.coalesce(
                    F.max(F.when(F.col("g") == 0, F.col("n"))), F.lit(0)
                ).alias("n_a"),
                F.coalesce(
                    F.max(F.when(F.col("g") == 1, F.col("n"))), F.lit(0)
                ).alias("n_b"),
            ).selectExpr(
                "stack(2, 'n_a', n_a, 'n_b', n_b) AS (feature, value)"
            )
            out = out.unionByName(counts)
    return out.select("feature", F.col("value").cast("long"))


def causal_qte_oracle(
    events_table: str = "events",
    key_col: str = "user_id",
    value_type: str = "purchase",
    pcts: tuple = (50, 90),
) -> str:
    """DuckDB twin of :func:`causal_qte` (identical rank scan and ceil
    rank contract)."""
    branches = []
    for p in pcts:
        branches.append(f"""
        SELECT 'q{p}_a' AS feature,
               CAST(COALESCE(MAX(CASE WHEN g = 0 THEN q END), 0)
                 AS BIGINT) AS value FROM qp{p}
        UNION ALL SELECT 'q{p}_b',
          COALESCE(MAX(CASE WHEN g = 1 THEN q END), 0) FROM qp{p}
        UNION ALL SELECT 'qte{p}',
          COALESCE(MAX(CASE WHEN g = 1 THEN q END), 0)
          - COALESCE(MAX(CASE WHEN g = 0 THEN q END), 0) FROM qp{p}""")
    qps = ",\n".join(
        f"""qp{p} AS MATERIALIZED (
          SELECT g, MIN(y) AS q, MAX(n) AS n
          FROM ranked WHERE cum >= (({p} * n) + 99) // 100
          GROUP BY g)"""
        for p in pcts
    )
    p0 = pcts[0]
    return f"""
        WITH per_unit AS MATERIALIZED (
          SELECT CAST({key_col} AS BIGINT) AS k,
                 CAST(SUM(CASE WHEN event_type = '{value_type}'
                          THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM {events_table} GROUP BY 1),
        vc AS MATERIALIZED (
          SELECT k % 2 AS g, y, CAST(COUNT(*) AS BIGINT) AS c
          FROM per_unit GROUP BY 1, 2),
        ranked AS MATERIALIZED (
          SELECT g, y,
                 CAST(SUM(c) OVER (PARTITION BY g ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
          FROM vc),
        {qps}
        {" UNION ALL ".join(branches)}
        UNION ALL SELECT 'n_a',
          COALESCE(MAX(CASE WHEN g = 0 THEN n END), 0) FROM qp{p0}
        UNION ALL SELECT 'n_b',
          COALESCE(MAX(CASE WHEN g = 1 THEN n END), 0) FROM qp{p0}
    """


def data_shapley(
    df: DataFrame,
    source_col: str,
    x_col: str,
    y_col: str,
    n_sources: int = 4,
) -> DataFrame:
    """EXACT Shapley valuation of DATA SOURCES — the ingest-planning
    question a training-data pipeline asks before paying for a feed:
    "how much does each source's DATA (not feature) contribute to the
    model?". The coalition value ``v(S)`` is the full-corpus R^2 of the
    1-variable OLS fit on the rows of the sources in ``S`` (v(empty) =
    0 — the global-mean baseline); each source's Shapley value averages
    its marginal contribution over all insertion orders.

    Why this is CHEAP here: OLS sufficient statistics are a sum monoid
    (the crossval/learning-curve insight), so every one of the ``2^k``
    subset fits closes over the ONE per-source stats aggregation — no
    refits, no subset scans. Evaluation takes ONE additional corpus
    scan computing all ``2^k`` quantized residual columns at once
    (shap_linear's device, widened), then one rollup.

    Integer discipline: slope in exact ppm trunc-division (DECIMAL(19)
    cross-products), intercept in cppm, per-row residuals quantized
    ``div 1e5`` BEFORE squaring, R^2 as exact ppm
    ``((sst - sse) * 1e6) div sst``; degenerate subsets (no x variance)
    fall back to the mean-only model deterministically. Shapley values
    leave as ``shap_xkf_ppm`` — the value times ``k!`` (exact integer;
    divide by 24 at k=4 to read ppm).

    Output per source: ``(source, n_rows, r2_solo_ppm, r2_loo_ppm,
    shap_xkf_ppm)`` — solo = v({src}), loo = v(all minus src); the
    shap column sums to ``k! * r2_full`` across sources (efficiency
    axiom), with the full-model R^2 readable from solo/loo context via
    the oracle's identical arithmetic.

    Scale: one per-source stats aggregation (k rows), subset algebra
    over a k-bounded broadcast relation, one scoring scan, one rollup.
    """
    from itertools import combinations
    from math import factorial

    k = n_sources
    if k < 2 or k > 5:
        raise ValueError("data_shapley supports 2..5 sources")
    base = df.select(
        (F.col(source_col).cast("long") % k).alias("src"),
        F.col(x_col).cast("long").alias("xv"),
        F.col(y_col).cast("long").alias("yv"),
    ).filter(
        F.col("xv").isNotNull() & F.col("yv").isNotNull()
    ).localCheckpoint(eager=False)
    per_src = base.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xv").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
        F.sum(F.col("xv") * F.col("yv")).alias("sxy"),
    )
    # subset membership (2^k x k indicator rows, driver-embedded —
    # k-bounded, never data-sized)
    spark = df.sparkSession
    member = local_df(spark, 
        [
            (sid, s)
            for sid in range(1 << k)
            for s in range(k)
            if sid & (1 << s)
        ],
        "sid long, src long",
    )
    dec = "CAST({} AS DECIMAL(19,0))"
    sub = (
        member.join(per_src, "src")
        .groupBy("sid")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxx").alias("sxx"),
            F.sum("sxy").alias("sxy"),
        )
        .withColumn(
            "cxx",
            F.expr(
                f"{dec.format('n')} * {dec.format('sxx')}"
                f" - {dec.format('sx')} * {dec.format('sx')}"
            ),
        )
        .withColumn(
            "cxy",
            F.expr(
                f"{dec.format('n')} * {dec.format('sxy')}"
                f" - {dec.format('sx')} * {dec.format('sy')}"
            ),
        )
        .withColumn(
            "b_ppm",
            F.expr(
                "CASE WHEN cxx > 0 THEN"
                " CAST((cxy * 1000000) div cxx AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .withColumn(
            "c_cppm",
            F.expr(
                "CASE WHEN n > 0 THEN (sy * 1000000 - b_ppm * sx) div n"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .select("sid", "b_ppm", "c_cppm")
        .localCheckpoint(eager=True)
    )
    coef = {
        int(r["sid"]): (int(r["b_ppm"]), int(r["c_cppm"]))
        for r in sub.collect()  # 2^k rows — k-bounded driver scalars
    }
    # empty subset: the global-mean baseline (residual = y - mean)
    glob = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("yv").alias("sy")
    ).collect()[0]
    mu_cppm = (
        (int(glob["sy"]) * 1_000_000) // int(glob["n"]) if glob["n"] else 0
    )
    res_cols = [
        F.expr(
            _sm_div(f"yv * 1000000 - {mu_cppm}", 100000)
        ).alias("r0")
    ] + [
        F.expr(
            _sm_div(
                f"yv * 1000000 - {coef.get(sid, (0, mu_cppm))[1]}"
                f" - {coef.get(sid, (0, mu_cppm))[0]} * xv",
                100000,
            )
        ).alias(f"r{sid}")
        for sid in range(1, 1 << k)
    ]
    scored = base.select(*res_cols)
    sse = scored.agg(
        F.sum(F.col("r0") * F.col("r0")).alias("sst"),
        *[
            F.sum(F.col(f"r{sid}") * F.col(f"r{sid}")).alias(f"ss{sid}")
            for sid in range(1, 1 << k)
        ],
    )
    r2_expr = {0: "CAST(0 AS BIGINT)"}
    for sid in range(1, 1 << k):
        r2_expr[sid] = (
            f"CASE WHEN sst > 0 THEN ((sst - ss{sid}) * 1000000) div sst"
            f" ELSE CAST(0 AS BIGINT) END"
        )
    # the 1-row SSE relation feeds k per-source branches — checkpoint
    # so the scoring scan runs once (multi-consumer rule)
    ssec = sse.localCheckpoint(eager=True)
    full = (1 << k) - 1
    shap = None
    for s in range(k):
        terms = []
        for size in range(k):
            w = factorial(size) * factorial(k - 1 - size)  # x k! weight
            for combo in combinations(
                [t for t in range(k) if t != s], size
            ):
                sid = sum(1 << t for t in combo)
                terms.append(
                    f"{w} * (({r2_expr[sid | (1 << s)]})"
                    f" - ({r2_expr[sid]}))"
                )
        row = ssec.selectExpr(
            f"CAST({s} AS BIGINT) AS source",
            f"CAST({' + '.join(terms)} AS BIGINT) AS shap_xkf_ppm",
            f"CAST(({r2_expr[1 << s]}) AS BIGINT) AS r2_solo_ppm",
            f"CAST(({r2_expr[full ^ (1 << s)]}) AS BIGINT) AS r2_loo_ppm",
        )
        shap = row if shap is None else shap.unionByName(row)
    counts = per_src.select(
        F.col("src").alias("source"), F.col("n").cast("long").alias("n_rows")
    )
    return (
        shap.join(counts, "source", "left")
        .select(
            "source",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            "r2_solo_ppm",
            "r2_loo_ppm",
            "shap_xkf_ppm",
        )
    )


def data_shapley_oracle(
    source_sql: str,
    n_sources: int = 4,
) -> str:
    """DuckDB twin of :func:`data_shapley` (HUGEINT cross-products,
    identical trunc-divisions, quantized residuals, embedded x k!
    Shapley weights). ``source_sql`` must yield ``(src, xv, yv)``."""
    from itertools import combinations
    from math import factorial

    k = n_sources
    member_rows = ", ".join(
        f"({sid}, {s})"
        for sid in range(1 << k)
        for s in range(k)
        if sid & (1 << s)
    )
    hug = "CAST({} AS HUGEINT)"
    r2 = {0: "CAST(0 AS BIGINT)"}
    for sid in range(1, 1 << k):
        r2[sid] = (
            f"CASE WHEN sst > 0 THEN ((sst - ss{sid}) * 1000000) // sst"
            f" ELSE 0 END"
        )
    sse_cols = ",\n                 ".join(
        f"CAST(SUM(r{sid} * r{sid}) AS BIGINT) AS ss{sid}"
        for sid in range(1, 1 << k)
    )
    res_cols = ",\n                 ".join(
        _sm_div(
            f"yv * 1000000"
            f" - COALESCE((SELECT c_cppm FROM coef2 WHERE sid = {sid}),"
            f" mu.mu_cppm)"
            f" - COALESCE((SELECT b_ppm FROM coef2 WHERE sid = {sid}), 0)"
            f" * xv",
            100000,
            "//",
        )
        + f" AS r{sid}"
        for sid in range(1, 1 << k)
    )
    full = (1 << k) - 1
    branches = []
    for s in range(k):
        terms = []
        for size in range(k):
            w = factorial(size) * factorial(k - 1 - size)
            for combo in combinations(
                [t for t in range(k) if t != s], size
            ):
                sid = sum(1 << t for t in combo)
                terms.append(
                    f"{w} * (({r2[sid | (1 << s)]}) - ({r2[sid]}))"
                )
        branches.append(
            f"SELECT CAST({s} AS BIGINT) AS source,"
            f" CAST({' + '.join(terms)} AS BIGINT) AS shap_xkf_ppm,"
            f" CAST(({r2[1 << s]}) AS BIGINT) AS r2_solo_ppm,"
            f" CAST(({r2[full ^ (1 << s)]}) AS BIGINT) AS r2_loo_ppm"
            f" FROM ssec"
        )
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST(src AS BIGINT) % {k} AS src,
                 CAST(xv AS BIGINT) AS xv, CAST(yv AS BIGINT) AS yv
          FROM ({source_sql})
          WHERE xv IS NOT NULL AND yv IS NOT NULL),
        per_src AS MATERIALIZED (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(xv) AS BIGINT) AS sx,
                 CAST(SUM(yv) AS BIGINT) AS sy,
                 CAST(SUM(xv * xv) AS BIGINT) AS sxx,
                 CAST(SUM(xv * yv) AS BIGINT) AS sxy
          FROM base GROUP BY 1),
        member AS (SELECT * FROM (VALUES {member_rows}) m(sid, src)),
        sub AS MATERIALIZED (
          SELECT sid, CAST(SUM(n) AS BIGINT) AS n,
                 CAST(SUM(sx) AS BIGINT) AS sx,
                 CAST(SUM(sy) AS BIGINT) AS sy,
                 CAST(SUM(sxx) AS BIGINT) AS sxx,
                 CAST(SUM(sxy) AS BIGINT) AS sxy
          FROM member JOIN per_src USING (src) GROUP BY 1),
        gl AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COALESCE(SUM(yv), 0) AS BIGINT) AS sy
          FROM base),
        coef AS MATERIALIZED (
          SELECT sid,
                 CASE WHEN {hug.format('n')} * {hug.format('sxx')}
                        - {hug.format('sx')} * {hug.format('sx')} > 0
                      THEN CAST((({hug.format('n')} * {hug.format('sxy')}
                        - {hug.format('sx')} * {hug.format('sy')})
                        * 1000000)
                        // ({hug.format('n')} * {hug.format('sxx')}
                        - {hug.format('sx')} * {hug.format('sx')})
                        AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS b_ppm,
                 CAST(0 AS BIGINT) AS c_pre
          FROM sub),
        coef2 AS MATERIALIZED (
          SELECT coef.sid, coef.b_ppm,
                 CASE WHEN sub.n > 0 THEN
                   (sub.sy * 1000000 - coef.b_ppm * sub.sx) // sub.n
                 ELSE 0 END AS c_cppm
          FROM coef JOIN sub USING (sid)),
        mu AS MATERIALIZED (
          SELECT CASE WHEN n > 0 THEN (sy * 1000000) // n ELSE 0 END
            AS mu_cppm FROM gl),
        scored AS MATERIALIZED (
          SELECT {_sm_div("yv * 1000000 - mu.mu_cppm", 100000, "//")}
                 AS r0,
                 {res_cols}
          FROM base CROSS JOIN mu),
        ssec AS MATERIALIZED (
          SELECT CAST(SUM(r0 * r0) AS BIGINT) AS sst,
                 {sse_cols}
          FROM scored),
        shap AS MATERIALIZED ({" UNION ALL ".join(branches)})
        SELECT shap.source,
               CAST(COALESCE(per_src.n, 0) AS BIGINT) AS n_rows,
               shap.r2_solo_ppm, shap.r2_loo_ppm, shap.shap_xkf_ppm
        FROM shap LEFT JOIN per_src ON shap.source = per_src.src
    """


def ks_drift(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    split_ts: str = "2024-01-16 00:00:00",
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test between the
    before/after halves of a time split — the distribution-level
    complement of ``psi_drift`` (binned) and ``drift_chi2``
    (categorical): D = max_v |F_a(v) - F_b(v)| over the union of
    observed values, computed EXACTLY in integers via the round-8
    value-count rank device (per-value counts, one cumulative window —
    cross-multiplied so no division enters the max:
    ``d_num = max |cum_a * n_b - cum_b * n_a|``, D = d_num/(n_a n_b)).

    Significance is the embedded large-sample gate at alpha = .05:
    ``D > 1.358 * sqrt((n_a+n_b)/(n_a n_b))``, squared to integers —
    ``d_micro^2 > (1844164 * (n_a+n_b) scaled) / (n_a n_b)`` with BOTH
    sides in the round-12 two-stage kilo-split form
    (``policy._split_micro_div`` — every intermediate bounded by
    ``n_a*n_b*1000``), so the binding int64 bound is ``n_a*n_b <
    ~9.2e18``: arms up to ~3e9 rows each when balanced (the gate's
    ``1844164*(n_a+n_b)`` factor caps total rows at ~5e12, never
    binding under that). The micro truncation of D is part of the
    contract, identical both engines.

    NULL handling (identical both engines): rows with a NULL
    ``ts_col`` OR NULL ``value_col`` are excluded entirely — a NULL
    timestamp belongs to neither arm, so counting its value row would
    inflate ``n_values`` on one engine only (ADVICE-r13).

    Output (tall BIGINT): ``n_a / n_b / n_values / d_num / d_micro /
    ks_reject_95``.

    Scale: one per-value count aggregation (map-side combined; state
    bounded by the quantized-metric cardinality) + the two-phase
    distributed rank device (operators/distrank.py::dist_cumsum) for
    the cumulative sums — no unpartitioned window, so a continuous
    metric whose quantized cardinality approaches row count still
    scales.
    """
    split = f"unix_micros(CAST('{split_ts}' AS TIMESTAMP))"
    src = (
        events.filter(f"{ts_col} IS NOT NULL AND {value_col} IS NOT NULL")
        .selectExpr(
            f"CAST(unix_micros(CAST({ts_col} AS TIMESTAMP)) >= {split}"
            f" AS INT) AS arm",
            f"CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq",
        )
    )
    vc = src.groupBy("vq").agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("c0"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("c1"),
    )
    return ks_read(vc)


def ks_read(vc: DataFrame) -> DataFrame:
    """The KS statistic + gate over a ``(vq, c0, c1)`` per-value count
    relation — shared by :func:`ks_drift` and the streaming twin
    (monoid-in-state, algebra-at-read).

    The cumulative sums run on the round-8 two-phase device
    (``distrank.dist_cumsum`` — range-bucketed within-partition windows
    + a bucket-count-sized broadcast offset merge), never an
    unpartitioned window, so the read scales with the per-value
    relation's cardinality (pr_curve / ``_cox_risk`` precedent); the
    arm totals come from one extra map-side-combined aggregation
    broadcast back (``_cox_risk`` shape)."""
    from flink_example_spark.operators.distrank import dist_cumsum
    from flink_example_spark.operators.policy import _split_micro_div

    cum = dist_cumsum(vc, ["vq"], {"cum0": "c0", "cum1": "c1"})
    tots = vc.groupBy().agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    agg = (
        cum.crossJoin(F.broadcast(tots))
        .groupBy()
        .agg(
            F.max("n0").cast("long").alias("n_a"),
            F.max("n1").cast("long").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.max(F.expr("abs(cum0 * n1 - cum1 * n0)"))
            .cast("long")
            .alias("d_num"),
        )
    )
    d_micro = (
        "CASE WHEN n_a > 0 AND n_b > 0 THEN"
        f" ({_split_micro_div('d_num', '(n_a * n_b)')})"
        " ELSE 0 END"
    )
    rhs = _split_micro_div("(1844164 * (n_a + n_b))", "(n_a * n_b)")
    return agg.selectExpr(
        "stack(6,"
        " 'n_a', n_a,"
        " 'n_b', n_b,"
        " 'n_values', n_values,"
        " 'd_num', d_num,"
        f" 'd_micro', {d_micro},"
        f" 'ks_reject_95', CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN"
        f"   ({d_micro}) * ({d_micro}) > {rhs} ELSE FALSE END AS BIGINT)"
        ") AS (feature, value)"
    ).select("feature", F.col("value").cast("long"))


def ks_drift_oracle(
    table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
    split_ts: str = "2024-01-16 00:00:00",
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`ks_drift` (identical micros split, integer
    cross-multiplied max, identical two-stage kilo-split gate,
    identical NULL-ts exclusion)."""
    from flink_example_spark.operators.policy import _split_micro_div

    d_micro = (
        "CASE WHEN n_a > 0 AND n_b > 0 THEN"
        f" ({_split_micro_div('d_num', '(n_a * n_b)', '//')})"
        " ELSE 0 END"
    )
    rhs = _split_micro_div("(1844164 * (n_a + n_b))", "(n_a * n_b)", "//")
    return f"""
        WITH src AS MATERIALIZED (
          SELECT CASE WHEN epoch_us({ts_col}) >=
                   epoch_us(TIMESTAMP '{split_ts}') THEN 1 ELSE 0 END
                   AS arm,
                 CAST(floor({value_col} * {scale} + 0.5) AS BIGINT) AS vq
          FROM {table}
          WHERE {value_col} IS NOT NULL AND {ts_col} IS NOT NULL),
        vc AS MATERIALIZED (
          SELECT vq,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
          FROM src GROUP BY vq),
        cum AS MATERIALIZED (
          SELECT CAST(SUM(c0) OVER (ORDER BY vq) AS BIGINT) AS cum0,
                 CAST(SUM(c1) OVER (ORDER BY vq) AS BIGINT) AS cum1,
                 CAST(SUM(c0) OVER () AS BIGINT) AS n0,
                 CAST(SUM(c1) OVER () AS BIGINT) AS n1
          FROM vc),
        agg AS MATERIALIZED (
          SELECT CAST(MAX(n0) AS BIGINT) AS n_a,
                 CAST(MAX(n1) AS BIGINT) AS n_b,
                 CAST(COUNT(*) AS BIGINT) AS n_values,
                 CAST(MAX(abs(cum0 * n1 - cum1 * n0)) AS BIGINT) AS d_num
          FROM cum)
        SELECT 'n_a' AS feature, CAST(n_a AS BIGINT) AS value FROM agg
        UNION ALL SELECT 'n_b', n_b FROM agg
        UNION ALL SELECT 'n_values', n_values FROM agg
        UNION ALL SELECT 'd_num', d_num FROM agg
        UNION ALL SELECT 'd_micro', CAST({d_micro} AS BIGINT) FROM agg
        UNION ALL SELECT 'ks_reject_95',
          CAST(CASE WHEN n_a > 0 AND n_b > 0 AND
            ({d_micro}) * ({d_micro}) > {rhs} THEN 1 ELSE 0 END
            AS BIGINT) FROM agg
    """
