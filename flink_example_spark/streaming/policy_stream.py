"""STREAMING off-policy evaluation monitor: the five-sum OPE monoid
(:func:`~flink_example_spark.operators.policy.ips_sums`) maintained
live over the logged-decision stream, with the IPS/SNIPS/ESS algebra
run at read time — "monoid-in-state, algebra-at-read" (DESIGN.md), the
same shape as the live Bradley-Terry leaderboard.

Why this shape at scale: the state is ONE row (five BIGINT sums), every
update is a commutative merge (update mode, no watermark, no Python
state), and the read-time algebra touches only that row — a live
"how is the candidate policy doing on logged traffic" dashboard whose
numbers are BIT-equal to the batch estimate over the same logs (shares
the batch oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.operators.util import fresh_local
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_ips(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """Bounded replay of the events-derived policy log stream through
    the live OPE sum aggregate, IPS/SNIPS/ESS algebra at read;
    hash-identical to batch ``policy_ips_eval`` (shares its oracle)."""
    from flink_example_spark.operators.policy import (
        ips_sums,
        ope_from_sums,
        synth_policy_logs,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    # synth_policy_logs is a stateless projection — streams as-is; the
    # five-sum monoid (the SAME ips_sums the batch row aggregates) is
    # the ONE stateful (global) aggregation
    sums = ips_sums(synth_policy_logs(stream))
    # update mode re-emits THE row per batch with cumulative sums; every
    # sum is a non-negative-term monoid, so the col-wise max IS the
    # final state
    latest = drain_to_table(sums, "update").agg(
        F.max("n").alias("n"),
        F.max("n_match").alias("n_match"),
        F.max("s_w").alias("s_w"),
        F.max("s_wr").alias("s_wr"),
        F.max("s_w2").alias("s_w2"),
    )
    # single read-time consumer, but mint fresh attrs off the memory
    # sink anyway (DESIGN.md memory-sink rule — stack() reads columns
    # several times)
    fresh = fresh_local(latest)
    return ope_from_sums(fresh)
