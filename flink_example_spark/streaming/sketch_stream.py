"""Streaming sketches: KMV bottom-k and count-min maintained over a stream.

The batch sketch (operators/sketch.py) is a commutative, idempotent monoid —
the k smallest distinct hashes of a union is the bottom-k of the per-part
bottom-ks — so the streaming form needs NO watermark and tolerates any
arrival order / duplication: per-group state is a sorted array of at most k
hashes, merged as micro-batches arrive (state O(k), not O(distinct)).

This is the profiling loop a live ingest pipeline runs: "how many distinct
fingerprints per language so far" without ever materializing the distinct
set. Bounded replay converges EXACTLY to the batch ``kmv_distinct`` (the
merge property, pinned in tests/test_sketch.py) and shares its oracle.

State here is the pickled sorted list (applyInPandasWithState); a
transformWithState port (ListState of longs, JVM-side) needs
google.protobuf.

Round 12 adds the stronger form that does NOT wait for protobuf:
``run_streaming_kmv_jvm`` holds the bottom-k state in the Java
``fes.KmvBottomK`` aggregate inside a plain streaming aggregation — the
state store keeps the O(k) buffer row per key, merges run JVM-side, and
NO Python (pickled or otherwise) touches the path. Converges exactly to
the batch relation (shares its oracle).
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from flink_example_spark.operators.util import fresh_local
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_example_spark.operators.sketch import HASH_SPACE, portable_hash32
from flink_example_spark.streaming.staging import drain_to_table, read_chunks

_STATE_SCHEMA = StructType([StructField("pkl", BinaryType(), True)])


def streaming_kmv_distinct(
    doc_stream: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Update-mode per-group KMV over a stream. Emits one row per group per
    micro-batch with a monotone ``version`` — the latest version per group
    is the current sketch (same columns as the batch operator + version)."""
    import pandas as pd

    output_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("version", LongType()),
            StructField("n_kept", LongType()),
            StructField("kth_hash", LongType(), True),
            StructField("est_distinct", DoubleType()),
        ]
    )
    # NULL values hash to NULL → pandas NaN → int(h) ValueError inside the
    # stateful UDF; drop them at the source (mirrors batch kmv_distinct).
    src = doc_stream.select(
        F.col(group_col).cast("string").alias("_g"),
        portable_hash32(F.col(value_col)).alias("_h"),
    ).filter(F.col("_h").isNotNull())

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            version, kept = pickle.loads(state.get[0])
        else:
            version, kept = 0, []
        merged = set(kept)
        for pdf in pdfs:
            merged.update(int(h) for h in pdf["_h"])
        kept = sorted(merged)[:k]
        version += 1
        state.update((pickle.dumps((version, kept)),))
        n = len(kept)
        kth = kept[-1] if n >= k else None
        est = float(n) if n < k else float(k - 1) * HASH_SPACE / float(kth)
        yield pd.DataFrame(
            [(key[0], version, n, kth, est)],
            columns=[f.name for f in output_schema.fields],
        )

    return src.groupBy("_g").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_kmv(
    spark: SparkSession, sf_dir: str, k: int = 32, chunks: int = 3
) -> DataFrame:
    """Bounded replay: per-language distinct-fingerprint sketch over the
    document stream; the final (max-version) row per language equals the
    batch ``kmv_distinct`` relation exactly — shares its oracle."""
    from flink_example_spark.operators.text import fingerprint
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select("lang", fingerprint(F.col("text")).alias("fp"))
    )
    sketch = streaming_kmv_distinct(stream, "lang", "fp", k=k)
    w_latest = (
        "SELECT lang, n_kept, kth_hash, est_distinct FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY version DESC) rn"
        "  FROM {t}"
        ") WHERE rn = 1"
    )
    return spark.sql(w_latest, t=drain_to_table(sketch, "update"))


def run_streaming_kmv_jvm(
    spark: SparkSession, sf_dir: str, k: int = 32, chunks: int = 3
) -> DataFrame:
    """LIVE KMV with ZERO Python state: the bottom-k monoid lives in the
    Java ``fes.KmvBottomK`` aggregate inside a plain streaming
    COMPLETE-mode aggregation — the streaming state store holds the O(k)
    buffer row per language and every update/merge runs JVM-side (the
    plan's partial_ mode applies per micro-batch too). The pickled-state
    ``run_streaming_kmv`` twin remains as the applyInPandasWithState
    reference; this form is the production path. Converges exactly to
    batch ``kmv_distinct`` (bottom-k is a commutative, idempotent merge)
    and shares its oracle."""
    from flink_example_spark.jvm import register_kmv_bottomk
    from flink_example_spark.operators.text import fingerprint
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_kmv_bottomk(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select("lang", fingerprint(F.col("text")).alias("fp"))
    )
    src = stream.select(
        "lang", portable_hash32(F.col("fp")).alias("__h")
    ).filter(F.col("__h").isNotNull())
    g = src.groupBy("lang").agg(F.expr(f"{fn}(__h)").alias("__ks"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return fresh.select(
        "lang",
        F.size("__ks").cast("long").alias("n_kept"),
        F.when(F.size("__ks") >= k, F.element_at("__ks", k)).alias("kth_hash"),
        F.when(F.size("__ks") < k, F.size("__ks").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(HASH_SPACE)
            / F.element_at("__ks", k).cast("double")
        )
        .alias("est_distinct"),
    )


def run_streaming_cm_sketch(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 8,
    chunks: int = 3,
) -> DataFrame:
    """Count-min sketch of the document TERM stream, maintained live.

    Unlike the KMV twin this needs no Python state at all: the counter
    matrix is a plain streaming ``groupBy(r, j).count()`` — Spark's built-in
    streaming-aggregation state store (JVM-side, at most depth*width rows of
    state), complete-mode output. Counter addition is a commutative monoid,
    so no watermark is needed and bounded replay converges EXACTLY to the
    batch ``cm_sketch`` — shares its oracle.
    """
    from flink_example_spark.operators.sketch import cm_coords
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select(F.explode(tokens(normalized(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
        .select(F.explode(cm_coords(F.col("term"), depth, width)).alias("__c"))
        .select(F.col("__c.r").alias("r"), F.col("__c.j").alias("j"))
    )
    counts = stream.groupBy("r", "j").agg(F.count(F.lit(1)).alias("cnt"))
    return spark.sql("SELECT r, j, cnt FROM {t}", t=drain_to_table(counts, "complete"))


def run_streaming_cm_jvm(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 3,
    width: int = 8,
    chunks: int = 3,
) -> DataFrame:
    """The typed-buffer form of :func:`run_streaming_cm_sketch`: the
    whole depth x width counter matrix is ONE ``fes.CmTI`` buffer in
    the streaming state store (round-14 typed family) — no coordinate
    explode in the stream, one state row total. Counter addition is a
    commutative monoid over pure-hash coordinates, so bounded replay
    converges to the batch matrix bit-exactly and shares
    ``cm_sketch``'s oracle."""
    from flink_example_spark.jvm import register_cm
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_cm(spark, depth, width)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select(F.explode(tokens(normalized(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
    )
    g = stream.groupBy().agg(F.expr(f"{fn}(term)").alias("__a"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return (
        fresh.select(F.posexplode("__a").alias("__i", "cnt"))
        .filter(F.col("cnt") > 0)
        .selectExpr(
            f"CAST(__i div {width} AS INT) AS r",
            f"CAST(__i % {width} AS BIGINT) AS j",
            "cnt",
        )
    )


def streaming_kmv_quantile_sample(
    doc_stream: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Update-mode per-group hash-rank sample over a stream: state is the
    k rows with the smallest portable hash of the key — a commutative,
    idempotent merge (same monoid as the batch sample), so no watermark and
    any arrival order converges. Emits the full current sample per group
    per micro-batch with a monotone ``version``; the max-version rows are
    the current sample (k rows per group, O(k) state)."""
    import pandas as pd

    output_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("version", LongType()),
            StructField("v", DoubleType()),
        ]
    )
    src = doc_stream.select(
        F.col(group_col).cast("string").alias("_g"),
        portable_hash32(F.col(key_col).cast("string")).alias("_h"),
        F.col(key_col).cast("long").alias("_k"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_h").isNotNull())

    def process(key, pdfs, state: GroupState):
        if state.exists:
            version, kept = pickle.loads(state.get[0])
        else:
            version, kept = 0, []
        merged = {(int(h), int(kk)): float(v) for h, kk, v in kept}
        for pdf in pdfs:
            for h, kk, v in zip(pdf["_h"], pdf["_k"], pdf["_v"]):
                merged[(int(h), int(kk))] = float(v)
        top = sorted(merged.items())[:k]
        kept = [(h, kk, v) for (h, kk), v in top]
        version += 1
        state.update((pickle.dumps((version, kept)),))
        yield pd.DataFrame(
            [(key[0], version, v) for _, _, v in kept],
            columns=[f.name for f in output_schema.fields],
        )

    return src.groupBy("_g").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_kmv_quantiles(
    spark: SparkSession, sf_dir: str, k: int = 64, chunks: int = 3
) -> DataFrame:
    """Bounded replay: per-language n_chars quartiles from the stream-
    maintained hash-rank sample. The final sample equals the batch
    ``kmv_quantile_sample`` exactly (bottom-k merge property), and the
    quantile arithmetic runs as the SAME Spark ``percentile`` aggregate the
    batch operator uses — so this shares the batch ``kmv_quantiles``
    oracle."""
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select("lang", "doc_id", "n_chars")
    )
    sample = streaming_kmv_quantile_sample(stream, "lang", "n_chars", "doc_id", k=k)
    return spark.sql(
        """
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sample,
               percentile(v, 0.25) AS p25,
               percentile(v, 0.5) AS p50,
               percentile(v, 0.75) AS p75
        FROM (
          SELECT lang, v,
                 MAX(version) OVER (PARTITION BY lang) AS mx, version
          FROM {t}
        ) WHERE version = mx
        GROUP BY lang
        """,
        t=drain_to_table(sample, "update"),
    )


def run_streaming_quantiles_jvm(
    spark: SparkSession, sf_dir: str, k: int = 64, chunks: int = 3
) -> DataFrame:
    """LIVE quantile sketch with ZERO Python state: the payload-carrying
    bottom-k monoid lives in the Java ``fes.KmvSampleBottomK`` aggregate
    inside a plain streaming COMPLETE-mode aggregation (O(k)
    three-array buffer per key in the state store; numeric keys ride
    the zero-pad order device). The final sample — and therefore the
    percentile read — is bit-identical to batch ``kmv_quantiles``
    (shares its oracle)."""
    from flink_example_spark.jvm import register_kmv_sample_bottomk
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_kmv_sample_bottomk(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select("lang", "doc_id", "n_chars")
    )
    ks = F.col("doc_id").cast("string")
    src = stream.select(
        "lang",
        portable_hash32(ks).alias("__h"),
        F.lpad(ks, 20, "0").alias("__ok"),
        F.col("n_chars").cast("double").alias("__vd"),
    ).filter(F.col("__h").isNotNull())
    g = src.groupBy("lang").agg(F.expr(f"{fn}(__h, __ok, __vd)").alias("__vs"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return (
        fresh.select("lang", F.explode("__vs").alias("__v"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.expr("percentile(__v, 0.25)").alias("p25"),
            F.expr("percentile(__v, 0.5)").alias("p50"),
            F.expr("percentile(__v, 0.75)").alias("p75"),
        )
    )


def run_streaming_hll_distinct(
    spark: SparkSession,
    sf_dir: str,
    p: int = 6,
    chunks: int = 3,
) -> DataFrame:
    """Portable-HLL distinct-TERM count per language, maintained live.

    Like the count-min twin this needs no Python state: ``hll_registers``
    is a plain streaming ``groupBy(lang, bucket).max(rho)`` — register-wise
    max is a commutative IDEMPOTENT monoid, so Spark's built-in streaming
    aggregation state (JVM-side, at most m rows per language) maintains it
    with no watermark, in complete mode, under any arrival order or replay.
    Bounded replay converges EXACTLY to batch ``hll_distinct`` and shares
    its oracle; the finalize (exact integer harmonic sum + one division)
    runs as a batch expression over the sink table.
    """
    from flink_example_spark.operators.sketch import hll_finalize, hll_registers
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select(F.col("lang"), F.explode(tokens(normalized(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
    )
    registers = hll_registers(stream, "lang", "term", p=p)
    return hll_finalize(drain_to_table(registers, "complete"), "lang", p=p)


def run_streaming_hll_jvm(
    spark: SparkSession,
    sf_dir: str,
    p: int = 6,
    chunks: int = 3,
) -> DataFrame:
    """The typed-buffer form of :func:`run_streaming_hll_distinct`: the
    whole m-register array is ONE O(m)-byte ``fes.HllTI`` buffer per
    language in the streaming state store (round-14 typed-aggregate
    family) instead of m register-relation rows — same registers by
    merge-order invariance (register-wise max of a pure hash function),
    so bounded replay converges to batch ``hll_distinct`` bit-exactly
    and shares its oracle verbatim."""
    from flink_example_spark.jvm import register_hll
    from flink_example_spark.operators.sketch import _hll_pairs, hll_finalize
    from flink_example_spark.operators.sketch import portable_hash32
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_hll(spark, p)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select(
            F.col("lang"),
            F.explode(tokens(normalized(F.col("text")))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    src = stream.select(
        "lang", portable_hash32(F.col("term")).alias("__h")
    ).filter(F.col("__h").isNotNull())
    g = src.groupBy("lang").agg(F.expr(f"{fn}(__h)").alias("__a"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return hll_finalize(_hll_pairs(fresh, ["lang"]), ["lang"], p=p)


def run_streaming_bloom_filter(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 3,
) -> DataFrame:
    """Per-nation Bloom filter over the live lineitem stream, probed at read.

    The sparse word table is a plain streaming ``groupBy(n_name, word)``
    ``bit_or`` aggregate — a commutative, IDEMPOTENT monoid, so no
    watermark, arbitrary replay, pure-JVM state bounded at groups × m/62
    rows no matter how many lineitems arrive. Dimension lookups are
    stream-static broadcast joins per micro-batch. After the bounded replay
    converges, the same probe summary as the batch operator runs over the
    materialized words — bit-identical to batch ``bloom_partkey_filter``,
    sharing its oracle.

    This is the live form of a runtime join filter: the build side keeps a
    fixed-size filter current while data streams in; probe sides consult it
    to skip shuffle work.
    """
    from flink_example_spark.operators.sketch import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_probe_summary,
        bloom_words,
    )
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.tables import load_table

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "lineitem", "l_orderkey", chunks)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    stream = read_chunks(spark, tmpdir, schema)
    shipped_stream = (
        stream.join(F.broadcast(supplier), stream.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(F.col("n_name"), F.col("l_partkey"))
    )
    words = bloom_words(shipped_stream, ["n_name"], "l_partkey", BLOOM_BITS, BLOOM_K)
    bloom = spark.sql(
        "SELECT n_name, word, bits FROM {t}", t=drain_to_table(words, "complete")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    shipped = (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(F.col("n_name"), F.col("l_partkey"))
    )
    probes = part.select(F.col("p_partkey").alias("l_partkey"))
    return bloom_probe_summary(
        bloom, probes, shipped, ["n_name"], "l_partkey", BLOOM_BITS, BLOOM_K
    ).orderBy("n_name")


def run_streaming_order_stats(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE exact-quantile monitor: the per-value count monoid streams in
    ONE update-mode JVM aggregation; the order-statistic selection
    (``sketch.exact_order_stats_from_counts`` — distributed cumsum +
    broadcast interval join on the target ranks) is read-time algebra.
    Identical output to the batch ``exact_order_stats`` (shared oracle) —
    exact percentiles, continuously maintained, value-cardinality state."""
    from flink_example_spark.operators.sketch import (
        exact_order_stats_from_counts,
    )
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    counts = (
        stream.filter(F.col("value").isNotNull())
        .groupBy(
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    latest = drain_to_table(counts, "update").groupBy("v").agg(F.max("c").alias("c"))
    return exact_order_stats_from_counts(latest)

def run_streaming_dyadic_jvm(
    spark: SparkSession, sf_dir: str, k: int = 64, chunks: int = 3
) -> DataFrame:
    """LIVE dyadic-histogram quantile sketch with ZERO Python state: the
    adaptive dyadic histogram (``fes.DyadicHist`` — exact bucket counts
    at the coarsest-needed resolution) is a commutative merge monoid,
    so a plain streaming COMPLETE-mode aggregation holds its O(k)
    buffer per event_type in the state store, and the merge-order-
    invariance theorem (DyadicHist.java) makes the replayed state — and
    therefore the quantile-bounds read — BIT-IDENTICAL to batch
    ``dyadic_quantiles`` (shares its oracle)."""
    from flink_example_spark.jvm import register_dyadic_hist
    from flink_example_spark.operators.sketch import dyadic_read
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_dyadic_hist(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .select("event_type", "value")
    )
    vq = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    src = stream.select(
        "event_type",
        F.expr(
            f"CASE WHEN {vq} < 0 THEN CAST(raise_error("
            f"'streaming_dyadic_jvm: negative value') AS BIGINT)"
            f" ELSE {vq} END"
        ).alias("__vq"),
    )
    g = src.groupBy("event_type").agg(F.expr(f"{fn}(__vq)").alias("__a"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return dyadic_read(fresh, ["event_type"], (25, 50, 75, 90))

def run_streaming_mg_jvm(
    spark: SparkSession, sf_dir: str, k: int = 8, chunks: int = 3
) -> DataFrame:
    """LIVE Misra-Gries heavy-hitter monitor with ZERO Python state: the
    O(k) MG counter buffer (``fes.MGTopK``) lives in the streaming
    state store under a plain COMPLETE-mode aggregation. The MG summary
    content is merge-order-dependent (micro-batch arrival IS a merge
    order), so the recorded relation is the same CERTIFIED read as
    batch ``mg_heavy_hitters``: exact-heavy keys (computed batch-side
    on the same bounded input) semi-joined against the LIVE survivors —
    the MG guarantee makes the result deterministic and equal to the
    batch row on every replay (shares its oracle); a live summary that
    dropped a guaranteed-heavy key would lose a row and fail the gate."""
    from flink_example_spark.jvm import register_mg_topk
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.tables import load_table

    tune(spark)
    fm = register_mg_topk(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    band = "CAST(floor(value / 25) AS BIGINT)"
    stream = (
        read_chunks(spark, tmpdir, schema)
        .selectExpr("event_type", f"CAST({band} AS STRING) AS __key")
        .filter(F.col("__key").isNotNull())
    )
    g = stream.groupBy("event_type").agg(F.expr(f"{fm}(__key)").alias("__mg"))
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    survivors = fresh.select(
        "event_type", F.explode("__mg").alias("__e")
    ).select(
        "event_type", F.split(F.col("__e"), "\t").getItem(0).alias("__key")
    )
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", f"CAST({band} AS STRING) AS __key"
    ).filter(F.col("__key").isNotNull())
    exact = ev.groupBy("event_type", "__key").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    from pyspark.sql import Window as _W

    heavy = exact.select(
        "event_type",
        "__key",
        "exact_count",
        F.sum("exact_count")
        .over(_W.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    ).filter(F.expr(f"exact_count * {k + 1} > n"))
    return heavy.join(
        survivors, ["event_type", "__key"], "left_semi"
    ).select(
        "event_type", F.col("__key").alias("hh_key"), "exact_count", "n"
    )

def run_streaming_dyadic_daily(
    spark: SparkSession, sf_dir: str, k: int = 64, chunks: int = 3
) -> DataFrame:
    """EVENT-TIME-WINDOWED dyadic sketch stream: per-day value
    histograms maintained live — the JVM bounded-state aggregate inside
    a ``window('1 day')`` streaming aggregation (T6 x sketch), state =
    one O(k) buffer per (day) window. Bounded 3-chunk replay in
    complete mode converges BIT-IDENTICALLY to batch
    ``sketch_dyadic_daily`` (``window.start`` == ``date_trunc('day')``
    under the UTC pin; merge-order invariance covers micro-batch
    arrival) and shares its oracle. Production runs update mode with
    the zero-delay watermark expiring closed windows from the state
    store."""
    from flink_example_spark.jvm import register_dyadic_hist
    from flink_example_spark.operators.sketch import dyadic_read
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_dyadic_hist(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    vq = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    stream = (
        read_chunks(spark, tmpdir, schema)
        # staged chunks carry the already-normalized ts; cast NTZ -> LTZ
        # (exact under the UTC pin) for the event-time window
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .selectExpr(
            "ts",
            f"CASE WHEN {vq} < 0 THEN CAST(raise_error("
            f"'streaming_dyadic_daily: negative value') AS BIGINT)"
            f" ELSE {vq} END AS __vq",
        )
    )
    g = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.expr(f"{fn}(__vq)").alias("__a"))
        .select(F.col("w.start").alias("day"), "__a")
    )
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return dyadic_read(fresh, ["day"], (50, 90))

def run_streaming_dyadic_rollup(
    spark: SparkSession, sf_dir: str, k: int = 64, chunks: int = 3
) -> DataFrame:
    """LIVE weekly rollup: the event-time-windowed day sketches stream
    into the state store (run_streaming_dyadic_daily's aggregation),
    and the weekly bounds are pure READ-TIME ALGEBRA over that live
    day-sketch relation — monoid-in-state, algebra-at-read applied to
    the no-rescan rollup. Converges bit-identically to batch
    ``dyadic_rollup`` (shares its oracle)."""
    from flink_example_spark.jvm import register_dyadic_hist
    from flink_example_spark.operators.sketch import dyadic_rollup_read
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_dyadic_hist(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    vq = "CAST(floor(value * 1000000 + 0.5) AS BIGINT)"
    stream = (
        read_chunks(spark, tmpdir, schema)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .selectExpr(
            "ts",
            f"CASE WHEN {vq} < 0 THEN CAST(raise_error("
            f"'streaming_dyadic_rollup: negative value') AS BIGINT)"
            f" ELSE {vq} END AS __vq",
        )
    )
    g = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.expr(f"{fn}(__vq)").alias("__a"))
        .select(F.col("w.start").alias("day"), "__a")
    )
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return dyadic_rollup_read(fresh, k=k, pcts=(50, 90))


def run_streaming_kmv_rolling(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    window_days: int = 7,
    chunks: int = 3,
) -> DataFrame:
    """LIVE trailing-window distinct profile: per-day KMV sketches
    maintained as event-time ``window('1 day')`` state (T6 x sketch,
    one O(k) ``fes.KmvBottomK`` buffer per day window — the
    run_streaming_dyadic_daily shape), with the rolling
    ``window_days``-day read as read-time algebra over the sink
    (``kmv_rolling_read``). Bounded replay converges BIT-IDENTICALLY
    to batch ``kmv_rolling_distinct`` (bottom-k union is a
    commutative idempotent merge; ``window.start`` ==
    ``date_trunc('day')`` under the UTC pin) and shares its oracle."""
    from flink_example_spark.jvm import register_kmv_bottomk
    from flink_example_spark.operators.sketch import kmv_rolling_read
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    fn = register_kmv_bottomk(spark, k)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select(
            "ts",
            portable_hash32(F.col("user_id").cast("string")).alias("__h"),
        )
        .filter(F.col("__h").isNotNull())
    )
    g = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.expr(f"{fn}(__h)").alias("__ks"))
        .select(F.col("w.start").alias("day"), "__ks")
    )
    latest = drain_to_table(g, "complete")
    fresh = fresh_local(latest)
    return kmv_rolling_read(fresh, k=k, window_days=window_days)
