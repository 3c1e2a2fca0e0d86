"""Streaming frequent-pattern mining — live association-rule maintenance.

Production shape is the classic serving split (same pattern as the NB
language-model serving twin, ``ml_stream.py``): a periodic BATCH pass
refreshes the frequent-item dictionary (a-priori pruning needs corpus-wide
document frequencies, which no ingest-time operator can know), and the
STREAM maintains the pair co-occurrence counts — the one relation whose
update per arriving document is a pure monoid increment. Rule selection
(support / confidence / lift gates) is a stateless read-time projection
over the maintained counts, shared verbatim with the batch operator
(``mining.rules_from_counts``), so the bounded replay converges EXACTLY to
the batch ``assoc_rules`` relation and shares its DuckDB oracle.

Reference parity: kerinin/flink-example runs grouped counts over streams
(App.java:96-150); this composes the same streaming grouped-count
machinery with an in-row pair generator.

Scale: the frequency gate is a stream-static BROADCAST equi-join of the
exploded live tokens against the frequent relation (bounded by
construction: df >= min_df tokens only) — the dictionary never touches
the driver or the query plan. Pair generation is a vectorized Arrow
self-merge per doc (|kept|^2/2 emissions — the a-priori bound, identical
to the batch self-join's per-document candidate count). State is one
BIGINT per observed frequent pair; one shuffle on the pair key per
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_assoc_rules(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 3,
    min_df: int = 250,
    min_pair_count: int = 200,
    min_conf_pct: int = 80,
) -> DataFrame:
    """Bounded replay of the documents table through the live pair-count
    aggregate; output equals batch ``assoc_rules`` (same oracle)."""
    from flink_example_spark.operators.mining import rules_from_counts
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.tables import load_table

    tune(spark)

    # ---- batch dictionary refresh: frequent items + corpus size ----
    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select(
            F.col("doc_id").alias("__id"),
            F.explode(tokens(normalized(F.col("text")))).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .distinct()
    )
    items = (
        dt.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_df)
        .persist()
    )
    items.count()  # materialize once: micro-batches re-read the cache
    n_docs = docs.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("__n"))

    # ---- live pair-count maintenance over the replayed stream ----
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    # frequency gate = stream-static BROADCAST equi-join on the exploded
    # token relation — the dictionary never rides the driver or the plan
    # (a literal array scales with corpus vocabulary; a hash join does
    # not). The a-priori bound survives: only frequent tokens reach the
    # pair stage.
    kept_tok = (
        stream.select(
            F.col("doc_id").cast("long").alias("__id"),
            F.explode(
                F.array_distinct(tokens(normalized(F.col("text"))))
            ).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .join(F.broadcast(items.select("__t")), "__t")
        .select("__id", "__t")
    )

    def to_pairs(batches):
        # a doc's exploded rows never span partitions (explode + broadcast
        # join preserve the source row's partition); concat the partition's
        # Arrow batches, then one vectorized self-merge per partition
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        m = pdf.merge(pdf, on="__id")
        m = m[m["__t_x"] < m["__t_y"]]
        yield m.rename(columns={"__t_x": "__ta", "__t_y": "__tb"})[
            ["__ta", "__tb"]
        ]

    pair_counts = (
        kept_tok.mapInPandas(to_pairs, schema="__ta string, __tb string")
        .groupBy("__ta", "__tb")
        .agg(F.count(F.lit(1)).alias("__cab"))
    )

    # ---- read-time rule selection (shared with batch) ----
    return rules_from_counts(
        drain_to_table(pair_counts, "complete"),
        items,
        n_docs,
        min_pair_count,
        min_conf_pct,
    )
