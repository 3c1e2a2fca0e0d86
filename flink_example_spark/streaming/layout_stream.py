"""STREAMING layout monitor: the Hilbert-curve index is a pure
stateless integer projection, so the per-bucket bounding-box relation
is ONE update-mode aggregation over (count, min, max) monoids — a live
"how clustered is the ingest" dashboard whose boxes are BIT-equal to
the batch audit over the same rows (shared oracle). The same shape
would serve the Morton audit; the Hilbert one is registered because its
boxes are the tighter claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_hilbert_stats(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 3,
    bits: int = 8,
    bucket_bits: int = 6,
) -> DataFrame:
    """Bounded replay of the events stream through the Hilbert
    bucket-box aggregate; hash-identical to batch
    ``layout_hilbert_stats`` (shares its oracle)."""
    from flink_example_spark.operators.layout import hilbert_index_df
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.tables import normalize_ts

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    xe = "user_id % 256"
    ye = "(EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) % 256"
    h = hilbert_index_df(normalize_ts(stream, "ts"), xe, ye, bits=bits)
    boxes = (
        h.select(
            F.expr(f"__h >> {2 * bits - bucket_bits}").alias("bucket"),
            F.expr(xe).cast("long").alias("__uid"),
            F.expr(ye).cast("long").alias("__mod"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("__uid").alias("uid_min"),
            F.max("__uid").alias("uid_max"),
            F.min("__mod").alias("mod_min"),
            F.max("__mod").alias("mod_max"),
        )
    )
    # update mode re-emits a bucket's row per batch with cumulative
    # monoids: n and max grow, min shrinks — pick each accordingly
    return drain_to_table(boxes, "update").groupBy("bucket").agg(
        F.max("n").alias("n"),
        F.min("uid_min").alias("uid_min"),
        F.max("uid_max").alias("uid_max"),
        F.min("mod_min").alias("mod_min"),
        F.max("mod_max").alias("mod_max"),
    )
