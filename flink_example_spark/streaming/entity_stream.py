"""Streaming entity-resolution serving — live record linkage at ingest.

The production shape of :func:`operators.entity.incremental_links`: the
entity map is a FROZEN batch artifact (refreshed by periodic full
re-resolution), and arriving records resolve against it live with TWO
streaming queries over the same replay:

- Q1 (stateless, append): exact + SymSpell-fuzzy assignment — both are
  stream-static joins against vocabulary-sized broadcast relations (the
  name map and its delete-variant expansion), zero state.
- Q2 (stateful, complete): the NEW-entity anchor — ``min(id)`` per
  unmatched name is exactly the first-seen-keeper monoid of
  ``streaming_exact_dedup``; state is one BIGINT per open name.

Read-time composition joins Q2's anchors onto Q1's unmatched rows; the
bounded replay converges exactly to the batch ``incremental_links``
relation and shares its oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.streaming.staging import drain_to_table, read_chunks


def run_streaming_entity_links(
    spark: SparkSession, sf_dir: str, chunks: int = 3, max_dist: int = 1
) -> DataFrame:
    import tempfile

    from flink_example_spark.operators.entity import (
        _expand_deletes,
        _normalized,
        canonical_name_map,
        dirty_registry,
    )
    from flink_example_spark.tables import load_table

    tune(spark)
    part = load_table(spark, sf_dir, "part")
    reg = dirty_registry(part)
    known = canonical_name_map(reg.filter(F.col("id") % 3 != 0)).localCheckpoint()
    # precompute the probe dictionary: known delete-variants -> canonical id
    ka = known.select("nm", "canonical_id", F.col("nm").alias("__v"))
    for _ in range(max_dist):
        ka = _expand_deletes(ka, "__v")
    ka = ka.select(F.col("nm").alias("km"), "canonical_id", "__v").distinct() \
           .localCheckpoint()

    # stage the arriving third as a replayed stream
    new_batch = reg.filter(F.col("id") % 3 == 0)
    tmpdir = tempfile.mkdtemp(prefix="stream_entity_")
    new_batch.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmpdir, "src")
    )
    staged_dir, schema = _restage(spark, os.path.join(tmpdir, "src"), chunks)
    stream = (
        read_chunks(spark, staged_dir, schema)
        .select("id", _normalized("name").alias("nm"))
        .filter(F.col("nm") != "")
    )

    # Q1: stateless exact/fuzzy assignment (stream-static broadcast joins)
    exact = stream.join(F.broadcast(known), "nm").select(
        "id", "nm", "canonical_id", F.lit("exact").alias("method")
    )
    sv = stream.join(F.broadcast(known.select("nm")), "nm", "left_anti").select(
        "id", "nm", F.col("nm").alias("__v")
    )
    for _ in range(max_dist):
        sv = _expand_deletes(sv, "__v")
    fuzzy = (
        sv.join(F.broadcast(ka), "__v")
        .filter(F.levenshtein("nm", "km") <= max_dist)
        .groupBy("id", "nm")
        .agg(F.min("canonical_id").alias("canonical_id"))
        .select("id", "nm", "canonical_id", F.lit("fuzzy").alias("method"))
    )
    # fuzzy uses a per-batch aggregate over (id, nm) — update mode keeps
    # it append-equivalent because each key appears in ONE batch
    assigned = drain_to_table(exact.unionByName(fuzzy), "update")
    # Q2: min-id-per-name monoid over ALL arriving names (anchors)
    anchors = drain_to_table(
        stream.groupBy("nm").agg(F.min("id").alias("anchor_id")), "complete"
    )
    raw = new_batch.select("id", _normalized("name").alias("nm")).filter(
        F.col("nm") != ""
    )
    new_rows = (
        raw.join(assigned.select("id").distinct(), "id", "left_anti")
        .join(F.broadcast(anchors), "nm")
        .select(
            "id",
            F.col("anchor_id").alias("canonical_id"),
            F.lit("new").alias("method"),
        )
    )
    return (
        assigned.select("id", "canonical_id", "method")
        .unionByName(new_rows)
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("canonical_id").cast("long").alias("canonical_id"),
            "method",
        )
    )


def _restage(spark: SparkSession, src_dir: str, chunks: int):
    """Split an already-written parquet relation into id-ordered chunk
    files (the generic splitter on a derived relation)."""
    import tempfile

    from flink_example_spark.streaming.staging import split_chunks, stamp_chunk_mtimes

    df = spark.read.parquet(src_dir)
    tmpdir = tempfile.mkdtemp(prefix="stream_entity_chunks_")
    split_chunks(df, "id", chunks, tmpdir)
    stamp_chunk_mtimes(tmpdir)
    return tmpdir, df.schema


def run_streaming_golden_records(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE golden-record maintenance — the MDM serving tail: arriving
    records join the FROZEN name map (stream-static broadcast), and the
    survivorship inputs are pure monoids maintained in complete mode —
    per-(entity, category) counts for the modal pick, per-entity
    count/min/max for the envelope. The modal argmax (zero-padded
    string-min) is a read-time projection over the key-sized count
    relation. Converges exactly to batch ``golden_records`` over the
    full registry (shared oracle)."""
    import tempfile

    from flink_example_spark.operators.entity import (
        _INV,
        _normalized,
        canonical_name_map,
        dirty_registry,
    )
    from flink_example_spark.tables import load_table

    tune(spark)
    part = load_table(spark, sf_dir, "part")
    reg = dirty_registry(part)
    cmap = canonical_name_map(reg).localCheckpoint()

    attrs = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_brand").alias("cat"),
        F.col("p_retailprice").alias("num"),
    )
    tmpdir = tempfile.mkdtemp(prefix="stream_golden_")
    src = reg.join(attrs, "id")
    src.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmpdir, "src"))
    staged_dir, schema = _restage(spark, os.path.join(tmpdir, "src"), chunks)
    stream = (
        read_chunks(spark, staged_dir, schema)
        .select("id", _normalized("name").alias("nm"), "cat", "num")
        .join(F.broadcast(cmap), "nm")
    )
    cat_counts = drain_to_table(
        stream.groupBy("canonical_id", "cat").agg(F.count(F.lit(1)).alias("c")),
        "complete",
    )
    envelope = drain_to_table(
        stream.groupBy("canonical_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("num").alias("num_min"),
            F.max("num").alias("num_max"),
        ),
        "complete",
    )
    modal = (
        cat_counts.select(
            "canonical_id",
            F.concat(
                F.lpad((F.lit(_INV) - F.col("c")).cast("string"), 12, "0"),
                F.col("cat"),
            ).alias("__k"),
        )
        .groupBy("canonical_id")
        .agg(F.min("__k").alias("__k"))
        .select(
            "canonical_id",
            F.substring("__k", 13, 1_000_000).alias("top_cat"),
            (F.lit(_INV) - F.substring("__k", 1, 12).cast("bigint")).alias(
                "top_cat_count"
            ),
        )
    )
    return (
        envelope.join(modal, "canonical_id")
        .select(
            F.col("canonical_id").cast("long").alias("canonical_id"),
            "n_records",
            "top_cat",
            "top_cat_count",
            "num_min",
            "num_max",
        )
    )
