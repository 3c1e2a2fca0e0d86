"""Streaming ANN — top-k similarity search over a LIVE query stream.

The production shape for embedding search in an ingest pipeline: the corpus
is a static (periodically refreshed) table; query vectors arrive as a
stream; each micro-batch is answered with the SAME batch operator
(``similarity.cosine_topk`` — broadcast query batch, zero corpus shuffle)
via foreachBatch. A query's top-k never changes once emitted (the corpus is
fixed for the batch), so per-micro-batch evaluation is exact and the
bounded replay converges to the batch relation — it shares the
``ann_cosine_topk`` oracle.

foreachBatch is at-least-once: writes are keyed on ``batch_id``
(mode=overwrite into a per-batch directory), so a replayed batch overwrites
its own prior output instead of duplicating rows.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import drain, read_chunks, stamp_chunk_mtimes


def run_streaming_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    chunks: int = 2,
) -> DataFrame:
    """Bounded replay: the ``vec_id < 8`` query set streamed in ``chunks``
    micro-batches against the static embeddings corpus; the union of
    per-batch answers equals batch ``cosine_topk`` exactly."""
    from flink_example_spark.operators.similarity import cosine_topk
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    corpus = load_table(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 8)

    tmpdir = tempfile.mkdtemp(prefix="stream_ann_")
    for i in range(chunks):
        queries.filter(F.col("vec_id") % chunks == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmpdir, f"chunk_{i}"))
    stamp_chunk_mtimes(tmpdir)

    q_stream = read_chunks(spark, tmpdir, queries.schema)
    sink = tempfile.mkdtemp(prefix="stream_ann_out_")

    def handle(batch: DataFrame, batch_id: int) -> None:
        out = cosine_topk(corpus, batch, k=k)
        out.write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    drain(q_stream.writeStream.foreachBatch(handle))
    return _read_batches(spark, sink)


def run_streaming_bm25(
    spark: SparkSession,
    sf_dir: str,
    queries: list[tuple[int, str]],
    topk: int = 10,
    chunks: int = 2,
) -> DataFrame:
    """Streaming BM25 — live text queries answered against the static
    corpus, the lexical twin of :func:`run_streaming_ann_topk`: each query
    micro-batch runs the SAME batch ``bm25_topk`` (corpus stats are fixed
    per batch, so per-query answers never change once emitted) and the
    bounded replay converges to the batch relation — shares the
    ``text_bm25_topk`` oracle."""
    from flink_example_spark.operators.text import bm25_topk
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    corpus = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(list(queries), "query_id bigint, query_text string")

    tmpdir = tempfile.mkdtemp(prefix="stream_bm25_")
    for i in range(chunks):
        qdf.filter(F.col("query_id") % chunks == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmpdir, f"chunk_{i}"))
    stamp_chunk_mtimes(tmpdir)

    q_stream = read_chunks(spark, tmpdir, qdf.schema)
    sink = tempfile.mkdtemp(prefix="stream_bm25_out_")

    def handle(batch: DataFrame, batch_id: int) -> None:
        out = bm25_topk(corpus, batch, topk=topk)
        out.write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    drain(q_stream.writeStream.foreachBatch(handle))
    return _read_batches(spark, sink)


def run_streaming_centroid_inference(
    spark: "SparkSession", sf_dir: str, chunks: int = 3
) -> "DataFrame":
    """STREAMING nearest-centroid serving: class centroids trained in
    batch on the train split are FROZEN (localCheckpoint), and holdout
    vectors stream through a stateless per-micro-batch scoring join —
    the vector-side twin of the NB text-serving row. Converges to batch
    ``ann_nearest_centroid`` and shares its oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_example_spark.session import tune
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    q12 = lambda col: F.floor(col * F.lit(1e12) + F.lit(0.5)).cast("bigint")  # noqa: E731
    xi_train = (
        emb.filter(F.col("vec_id") % 5 != 0)
        .select(
            F.col("label").alias("lab"),
            F.posexplode(F.col("embedding")).alias("i", "x"),
        )
        .select("lab", "i", F.col("x").cast("double").alias("x"))
    )
    cents = (
        xi_train.groupBy("lab", "i")
        .agg(F.sum(q12(F.col("x"))).alias("sq"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("lab").alias("k"),
            "i",
            (F.col("sq").cast("double") / F.col("n") / F.lit(1e12)).alias("c"),
        )
        .localCheckpoint()
    )
    tmpdir = tempfile.mkdtemp(prefix="stream_nc_")
    n = emb.count()
    per = (n + chunks - 1) // chunks
    for ci in range(chunks):
        emb.filter(
            (F.col("vec_id") >= ci * per) & (F.col("vec_id") < (ci + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{ci}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = (
        read_chunks(spark, tmpdir, emb.schema)
        .filter(F.col("vec_id") % 5 == 0)
    )
    outdir = tempfile.mkdtemp(prefix="stream_nc_out_")

    def handle(batch: "DataFrame", batch_id: int) -> None:
        xi = batch.select(
            F.col("vec_id").alias("id"),
            F.posexplode(F.col("embedding")).alias("i", "x"),
        ).select("id", "i", F.col("x").cast("double").alias("x"))
        dists = (
            xi.join(F.broadcast(cents), "i")
            .groupBy("id", "k")
            .agg(
                F.sum(
                    q12((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                ).alias("dq")
            )
        )
        best = (
            dists.select(
                "id",
                F.concat(
                    F.lpad(F.col("dq").cast("string"), 20, "0"),
                    F.lpad(F.col("k").cast("string"), 10, "0"),
                ).alias("key"),
            )
            .groupBy("id")
            .agg(F.min("key").alias("bk"))
        )
        best.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    drain(stream.writeStream.foreachBatch(handle))
    best = _read_batches(spark, outdir)
    truth = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("id"), F.col("label").alias("true_label")
    )
    return best.join(truth, "id").select(
        F.col("id").alias("vec_id"),
        F.substring(F.col("bk"), 21, 10).cast("int").alias("pred_label"),
        "true_label",
        F.when(
            F.substring(F.col("bk"), 21, 10).cast("int") == F.col("true_label"), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_correct"),
    )
