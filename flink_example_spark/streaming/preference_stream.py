"""STREAMING preference monitor: the per-pair win-count monoid
(:func:`~flink_example_spark.operators.preference.match_wincounts`)
maintained live over the match stream, with the Bradley–Terry MM
algebra run at read time over the merged state — "monoid-in-state,
algebra-at-read" (DESIGN.md), the same shape as the live Cox hazard
monitors.

Why this shape at scale: the state is PAIR-sized (arena arms x arms —
tens of rows), every update is a commutative count merge (update mode,
no watermark, no Python state), and the read-time fit touches only the
state relation, so an RLHF preference dashboard gets a live
leaderboard whose numbers are BIT-equal to the batch fit over the same
matches (shared oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.operators.util import fresh_local
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_bradley_terry(
    spark: SparkSession, sf_dir: str, chunks: int = 3, n_iter: int = 8
) -> DataFrame:
    """Bounded replay of the events-derived match stream through the
    live win-count aggregate, MM fit at read; hash-identical to batch
    ``pref_bradley_terry`` (shares its oracle)."""
    from flink_example_spark.operators.preference import (
        bradley_terry_from_wincounts,
        synth_matches,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    # synth_matches is a stateless projection — streams as-is; the
    # win-count monoid is the ONE stateful aggregation
    wc = (
        synth_matches(stream, n_items=8)
        .select(
            F.least("winner", "loser").alias("i"),
            F.greatest("winner", "loser").alias("j"),
            (F.col("winner") < F.col("loser")).cast("long").alias("w_is_i"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("w_is_i").alias("wi"),
            F.sum(F.lit(1) - F.col("w_is_i")).alias("wj"),
        )
    )
    # update mode re-emits a pair's row per batch with the cumulative
    # counts — max per key is the final state
    latest = drain_to_table(wc, "update").groupBy("i", "j").agg(
        F.max("wi").alias("wi"), F.max("wj").alias("wj")
    )
    # the MM algebra reads the state relation through several consumers
    # (adj both directions, item rollup, per-round joins): mint fresh
    # expr-ids off the memory sink first (DESIGN.md memory-sink rule)
    fresh = fresh_local(latest)
    return bradley_terry_from_wincounts(fresh, n_iter=n_iter)


def run_streaming_kripp_alpha(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE annotation-agreement monitor: the per-(item, category)
    count monoid maintained in ONE update-mode aggregation (state is
    item x category — bounded by the vocabulary), Krippendorff's alpha
    algebra at read; hash-identical to batch ``eval_kripp_alpha``
    (shares its oracle)."""
    from flink_example_spark.operators.preference import (
        kripp_alpha_from_counts,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    nic = (
        stream.selectExpr(
            "abs(event_id) % 3000 AS item", "event_type AS cat"
        )
        .groupBy("item", "cat")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    latest = drain_to_table(nic, "update").groupBy("item", "cat").agg(
        F.max("c").alias("c")
    )
    # fresh expr-ids before the multi-consumer algebra (memory-sink rule)
    fresh = fresh_local(latest)
    return kripp_alpha_from_counts(fresh)


def run_streaming_copeland(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE Copeland tournament board: the SAME per-pair win-count
    monoid the BT leaderboard keeps, with the pairwise-majority x2
    point algebra at read — hash-identical to batch ``pref_copeland``
    (shares its oracle). Demonstrates the monoid's fan-out: one state
    shape serves two leaderboards."""
    from flink_example_spark.operators.preference import (
        copeland_from_wincounts,
        synth_matches,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    wc = (
        synth_matches(stream, n_items=8)
        .select(
            F.least("winner", "loser").alias("i"),
            F.greatest("winner", "loser").alias("j"),
            (F.col("winner") < F.col("loser")).cast("long").alias("w_is_i"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("w_is_i").alias("wi"),
            F.sum(F.lit(1) - F.col("w_is_i")).alias("wj"),
        )
    )
    latest = drain_to_table(wc, "update").groupBy("i", "j").agg(
        F.max("wi").alias("wi"), F.max("wj").alias("wj")
    )
    # the point algebra reads the state through a two-branch union —
    # mint fresh expr-ids off the memory sink (DESIGN.md), then the
    # SHARED batch core
    fresh = fresh_local(latest)
    return copeland_from_wincounts(fresh)


def run_streaming_rater_quality(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE annotator scorecard: the ``(item, rater) -> min(cat)``
    dedupe is itself a commutative MONOID, kept in ONE update-mode
    aggregation (state is item x rater); the leave-one-out consensus
    algebra (:func:`~flink_example_spark.operators.preference.
    rater_quality_from_dedup`) runs at read over the merged state —
    hash-identical to batch ``eval_rater_quality`` (shares its
    oracle)."""
    from flink_example_spark.operators.preference import (
        rater_quality_from_dedup,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    dedup = (
        stream.selectExpr(
            "abs(event_id) % 3000 AS item",
            "CAST(abs(user_id) % 7 AS LONG) AS rater",
            "CAST(event_type AS STRING) AS cat",
        )
        .groupBy("item", "rater")
        .agg(F.min("cat").alias("cat"))
    )
    # update mode re-emits a key's row per batch with the cumulative
    # min — the per-key MIN over the sink is the final state
    latest = drain_to_table(dedup, "update").groupBy("item", "rater").agg(
        F.min("cat").alias("cat")
    )
    # multi-consumer algebra over the memory sink: fresh expr-ids
    fresh = fresh_local(latest)
    return rater_quality_from_dedup(fresh)
