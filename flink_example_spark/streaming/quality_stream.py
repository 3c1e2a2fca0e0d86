"""Streaming data-contract monitoring — live expectation violation counts.

Row-level rule violations and referential orphans are pure monoid counts,
so the dbt-test-style report runs LIVE: one stateless projection computes
every rule's violation indicator per arriving row (the FK rule via a
stream-static broadcast join against the dimension), and ONE global
complete-mode aggregate maintains the counts. Unpivoting to the
(check_name, n_rows, n_violations, passed) report shape is a read-time
projection. The bounded replay converges exactly to the batch conditional
aggregates and is oracle-checked against the same SQL shapes.

The key-UNIQUENESS check (which naively needs counts-of-counts — a second
stacked stateful aggregation) runs live too, via ``run_streaming_uniqueness``:
the stream maintains only the per-key count monoid; the second aggregation
is a read-time pass over the key-sized count relation.

Scale: zero shuffle for the rule projection (the dimension join is
broadcast), one constant-size global aggregate; state is six BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import (
    drain_to_table,
    read_chunks,
    stage_table_by_key,
)


def run_streaming_expectations(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    from flink_example_spark.tables import load_table

    tune(spark)
    customer = load_table(spark, sf_dir, "customer")
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "orders", "o_orderkey", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    joined = stream.join(
        F.broadcast(
            customer.select(F.col("c_custkey").alias("o_custkey")).distinct()
            .withColumn("__has_parent", F.lit(1))
        ),
        "o_custkey",
        "left",
    )
    viol = lambda pred: F.sum(F.when(~pred, 1).otherwise(0))
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("o_orderkey").isNotNull()).alias("v_key"),
        viol(F.col("o_totalprice") >= 0).alias("v_price"),
        viol(F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
        viol(
            F.col("o_orderdate") <= F.lit("1998-12-31").cast("timestamp")
        ).alias("v_date"),
        viol(F.col("__has_parent").isNotNull()).alias("v_fk"),
    )
    s = drain_to_table(agg, "complete")
    arms = [
        ("orders.o_orderkey_not_null", "v_key"),
        ("orders.o_totalprice_nonneg", "v_price"),
        ("orders.o_orderstatus_accepted", "v_status"),
        ("orders.o_orderdate_bound", "v_date"),
        ("orders.o_custkey->customer", "v_fk"),
    ]
    rows = [
        F.struct(
            F.lit(nm).alias("check_name"),
            F.col("n").cast("long").alias("n_rows"),
            F.col(c).cast("long").alias("n_violations"),
            (F.col(c) == 0).cast("long").alias("passed"),
        )
        for nm, c in arms
    ]
    return s.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.check_name", "__r.n_rows", "__r.n_violations", "__r.passed"
    )


def run_streaming_t_closeness(
    spark: SparkSession,
    sf_dir: str,
    t_ppm: int = 250_000,
    chunks: int = 3,
) -> DataFrame:
    """LIVE t-closeness monitor — the privacy-trio audit maintained as a
    stream: the ONLY stateful ingredient of the ordered-EMD computation
    is the (group x sensitive-band) count table, a plain commutative
    monoid, so it runs as ONE complete-mode JVM aggregation (state =
    groups x bands BIGINTs, no watermark, no Python). The cumulative
    distributions, the exact integer EMD numerators, and the breach
    verdicts are read-time windows over that count relation — identical
    expressions to batch :func:`operators.quality.t_closeness`, so the
    bounded replay converges to it exactly and shares its oracle."""
    from pyspark.sql import Window

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "customer", "c_custkey", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    counts = (
        stream.withColumn("bal_band", F.floor(F.col("c_acctbal") / 1000))
        .filter(F.col("bal_band").isNotNull())
        .groupBy(
            F.col("c_nationkey").alias("grp"), F.col("bal_band").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cj"))
    )
    # memory-sink tables share expr-ids across spark.table() calls (the
    # round-6 "Conflicting attributes" trap) — cut to a fresh LogicalRDD
    # once, then every read-time branch derives from that one frame
    cv = drain_to_table(counts, "complete").localCheckpoint(eager=True)
    gv = cv.groupBy("v").agg(F.sum("cj").alias("gj"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("v").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gcum = gv.select(
        "v",
        F.sum("gj").over(wv).alias("cum_g"),
        F.sum("gj").over(wall).alias("n_tot"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    groups = cv.groupBy("grp").agg(F.sum("cj").alias("n"))
    grid = groups.crossJoin(F.broadcast(gcum.select("v")))
    filled = grid.join(cv, ["grp", "v"], "left").withColumn(
        "cj", F.coalesce(F.col("cj"), F.lit(0))
    )
    wg = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = filled.withColumn("cum_c", F.sum("cj").over(wg)).join(
        F.broadcast(gcum), "v"
    )
    per_g = cum.groupBy("grp", "n", "n_tot", "m").agg(
        F.sum(
            F.abs(F.col("cum_c") * F.col("n_tot") - F.col("cum_g") * F.col("n"))
        ).alias("S")
    )
    emd = F.expr("(S * 1000000) div (n * n_tot * (m - 1))")
    return per_g.filter(F.col("m") >= 2).select(
        F.col("grp").alias("c_nationkey"),
        F.col("n").cast("long").alias("n"),
        emd.cast("long").alias("emd_ppm"),
        (emd > F.lit(t_ppm)).cast("long").alias("breaches"),
    )


def run_streaming_uniqueness(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE key-uniqueness check — the one expectation
    ``run_streaming_expectations`` documents as not-covered-live, closed
    WITHOUT stacked stateful aggregations: the stream maintains only the
    per-key occurrence counts (ONE update-mode JVM aggregation — the
    counts are a monoid, no watermark); the counts-of-counts rollup that
    needs a second aggregation runs at READ time over the key-sized
    count relation (latest version per key), exactly like the golden-
    records modal argmax. Converges to batch
    ``quality.unique_violations(lineitem, [l_orderkey])`` and shares its
    oracle shape."""
    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "lineitem", "l_orderkey", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    counts = stream.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # update-mode sink holds every emitted version; the key's final count
    # is its max (counts only grow). Counts-of-counts is read-time batch.
    latest = drain_to_table(counts, "update").groupBy("k").agg(F.max("c").alias("c"))
    return latest.agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
            "n_violations"
        ),
    ).select(
        F.lit("unique(l_orderkey)").alias("check"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def run_streaming_skew_audit(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE shuffle-skew monitor over the arriving event stream: state is
    the per-key count monoid (ONE update-mode JVM aggregation,
    key-cardinality-sized); the order-statistics rollup
    (``layout.skew_rollup`` — distributed ranking of the count
    distribution, hot-key share, 32-task skew factor) runs at read time
    over the sink. Converges exactly to the batch ``layout.skew_audit``
    (shared oracle) — the monitor a 100-TB ingest runs to catch a
    hot-partition key BEFORE the downstream join does."""
    from flink_example_spark.operators.layout import skew_rollup
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    counts = stream.groupBy(F.col("user_id").alias("__k")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    latest = (
        drain_to_table(counts, "update").groupBy("__k").agg(F.max("__c").alias("__c"))
    )
    return skew_rollup(latest, "user_id")


def run_streaming_gini_lorenz(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE corpus-concentration monitor: per-value (doc size) counts are
    the only state — a count monoid in ONE update-mode JVM aggregation
    (value-cardinality-sized); the Gini + Lorenz algebra
    (``quality.gini_lorenz_from_counts`` — interval-overlap decile split,
    distributed cumsum) runs at read time. BIT-equal to the batch
    ``gini_lorenz`` (shared oracle)."""
    from flink_example_spark.operators.quality import gini_lorenz_from_counts

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    counts = (
        stream.filter(F.col("n_chars").isNotNull())
        .groupBy(F.col("n_chars").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    latest = drain_to_table(counts, "update").groupBy("v").agg(F.max("c").alias("c"))
    return gini_lorenz_from_counts(latest)


def run_streaming_benford(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE Benford first-digit audit over arriving order totals: the
    only streaming state is the 9 first-digit counts (ONE update-mode
    JVM aggregation); the expected-share / chi-square algebra
    (``quality.benford_from_counts``) runs at read time over the sink.
    BIT-equal to the batch ``quality_benford`` (shared oracle) — the
    fraud/synthetic-feed smell test running while the feed ingests."""
    from flink_example_spark.operators.quality import benford_from_counts
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "orders", "o_orderkey", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    digits = (
        stream.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    versions = drain_to_table(digits, "update")
    latest = versions.groupBy("d").agg(F.max("obs").alias("obs"))
    return benford_from_counts(latest, "orders")
