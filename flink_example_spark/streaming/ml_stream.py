"""Streaming model fitting: OLS maintained over a live document stream.

The normal-equation sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) are
plain commutative BIGINT sums, so "training" streams as ONE JVM-state
grouped aggregation — no watermark needed (the stats are a monoid), no
Python anywhere. The closed-form slope/intercept/r² projection sits
stateless on top, re-evaluated on each emission; the bounded replay
converges EXACTLY to the batch ``ml.linear_fit`` and shares its oracle.

This is the live calibration loop an ingest pipeline runs: the
chars-per-token model updates continuously as documents arrive, and any
snapshot of the output table is a valid fit of everything seen so far.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.operators.ml import fit_from_stats
from flink_example_spark.session import tune
from flink_example_spark.operators.util import fresh_local
from flink_example_spark.streaming.staging import drain, drain_to_table, read_chunks


def streaming_linear_fit(
    doc_stream: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Complete-mode streaming OLS: same output columns as the batch
    ``linear_fit`` (grp, n, slope, intercept, r2)."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    stats = doc_stream.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    return fit_from_stats(stats)


def run_streaming_linear_fit(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """Bounded replay of the documents table through the streaming fit;
    converges exactly to the batch per-language chars~tokens calibration."""
    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    src = stream.select(
        "lang",
        "n_chars",
        F.size(F.array_remove(tokens(normalized(F.col("text"))), "")).alias("n_tok"),
    )
    out = streaming_linear_fit(src, "lang", "n_tok", "n_chars")
    return drain_to_table(out, "complete")


def run_streaming_nb_inference(
    spark: "SparkSession", sf_dir: str, chunks: int = 3
) -> "DataFrame":
    """STREAMING NB model serving: the classifier trained in batch on the
    train split is FROZEN (localCheckpoint — the deployable artifact), and
    holdout documents stream through a stateless per-micro-batch scoring
    join. A document's prediction never depends on other holdout docs, so
    per-batch evaluation is exact under any chunking — converges to batch
    ``ml_nb_language`` and shares its oracle. foreachBatch writes are
    batch-id-keyed (overwrite per batch dir) for at-least-once safety.
    """
    import tempfile

    from pyspark.sql import functions as F

    from flink_example_spark.operators.ml import nb_score, nb_train
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    model, priors = nb_train(docs.filter(F.col("doc_id") % 5 != 0))
    model = model.localCheckpoint()
    priors = priors.localCheckpoint()

    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .filter(F.col("doc_id") % 5 == 0)
    )
    outdir = tempfile.mkdtemp(prefix="stream_nb_")

    def handle(batch: "DataFrame", batch_id: int) -> None:
        nb_score(batch, model, priors).write.mode("overwrite").parquet(
            f"{outdir}/batch={batch_id}"
        )

    drain(stream.writeStream.foreachBatch(handle))
    best = _read_batches(spark, outdir)
    return best.join(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            F.col("doc_id").alias("__id"), F.col("lang").alias("true_label")
        ),
        "__id",
    ).select(
        F.col("__id").alias("doc_id"),
        F.substring(F.col("__bk"), 21, 64).alias("pred_label"),
        "true_label",
        F.substring(F.col("__bk"), 1, 20).cast("bigint").alias("pred_bits"),
        F.when(F.substring(F.col("__bk"), 21, 64) == F.col("true_label"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_correct"),
    )


def run_streaming_bootstrap_ci(
    spark: "SparkSession", sf_dir: str, n_replicates: int = 32, chunks: int = 3
) -> "DataFrame":
    """STREAMING Poisson-bootstrap CI: the per-(group, replicate) weighted
    sums/counts are sum monoids (each row's deterministic multiplicity
    depends only on (row id, replicate)), so the whole replicate table
    maintains as ONE complete-mode JVM aggregation over the exploded
    stream; the percentile CI runs over the converged (group x B) table
    at read time. Converges to batch ``bootstrap_ci`` under any arrival
    order — shares its oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_example_spark.operators.ml import _POISSON_THRESHOLDS
    from flink_example_spark.operators.sketch import portable_hash32
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_boot_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    rep = (
        stream.select(
            F.col("event_type").alias("grp"),
            F.col("event_id").cast("string").alias("rid"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .select(
            "grp",
            "rid",
            "v",
            F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("b"),
        )
        .withColumn("h", portable_hash32(F.concat_ws("|", F.col("rid"), F.col("b"))))
    )
    mult = F.when(F.col("h") < _POISSON_THRESHOLDS[0], 0)
    for k, t in enumerate(_POISSON_THRESHOLDS[1:], start=1):
        mult = mult.when(F.col("h") < t, k)
    mult = mult.otherwise(len(_POISSON_THRESHOLDS))
    agg = (
        rep.withColumn("m", mult)
        .groupBy("grp", "b")
        .agg(
            F.sum(F.col("v") * F.col("m")).alias("s"),
            F.sum("m").alias("mn"),
            F.sum(F.col("v")).alias("sv"),
            F.count(F.lit(1)).alias("nrep"),
        )
    )
    t = drain_to_table(agg, "complete")
    # ONE aggregation over the converged (grp x B) table: replicate means
    # feed the percentile CI (null when a replicate drew no rows —
    # percentile skips nulls, matching the batch filter), and replicate
    # b=1's unweighted accumulators carry the base mean/count
    mean_b = F.when(
        F.col("mn") > 0, F.col("s").cast("double") / F.col("mn")
    )
    return t.groupBy("grp").agg(
        F.max(F.when(F.col("b") == 1, F.col("nrep"))).alias("n_rows"),
        (
            F.max(F.when(F.col("b") == 1, F.col("sv"))).cast("double")
            / F.max(F.when(F.col("b") == 1, F.col("nrep")))
        ).alias("mean"),
        F.percentile(mean_b, F.lit(0.025)).alias("ci_lo"),
        F.percentile(mean_b, F.lit(0.975)).alias("ci_hi"),
    ).select("grp", "n_rows", "mean", "ci_lo", "ci_hi")


def run_streaming_stump_inference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE decision-stump serving — the train/serve split for trees
    (same pattern as the NB serving twin): the exact stump trains batch
    on the static corpus, its learned cut attaches to the replayed event
    stream via a broadcast cross join (no driver collect), and the
    serving-side monitor is ONE complete-mode aggregate of per-side
    outcome counts — the live confusion the model monitor watches for
    drift. Converges exactly to the batch crosstab at the same cut."""
    from flink_example_spark.operators.ml import decision_stump
    from flink_example_spark.plans.events_demo import load_events
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    root = decision_stump(
        load_events(spark, sf_dir), "value", F.col("event_type") == "error"
    ).select(F.col("cut_q").alias("__cut"))
    ev = stream_events(spark, sf_dir)
    sided = ev.crossJoin(F.broadcast(root)).select(
        F.when(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            <= F.col("__cut"),
            F.lit("L"),
        )
        .otherwise(F.lit("R"))
        .alias("side"),
        (F.col("event_type") == "error").cast("bigint").alias("is_err"),
    )
    agg = sided.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_err").alias("n_pos")
    )
    return drain_to_table(agg, "complete").select("side", "n", "n_pos")


def run_streaming_perceptron_inference(
    spark: "SparkSession", sf_dir: str, chunks: int = 3
) -> "DataFrame":
    """STREAMING perceptron serving: the integer weight vector trained in
    batch (ml.perceptron_train) is FROZEN as the deployable artifact;
    holdout documents stream through a stateless per-micro-batch scoring
    join (features are per-doc only, so any chunking yields identical
    predictions). The post-replay confusion aggregation converges exactly
    to batch ``ml_perceptron_confusion`` and shares its oracle."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_example_spark.operators.ml import (
        _perceptron_feats,
        perceptron_train,
    )
    from flink_example_spark.session import tune
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (
        perceptron_train(docs, n_rounds=6, holdout_mod=5)
        .select("j", F.col("weight").alias("w"))
        .localCheckpoint()
    )

    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .filter(F.col("doc_id") % 5 == 0)
    )
    outdir = tempfile.mkdtemp(prefix="stream_perc_")

    def handle(batch: "DataFrame", batch_id: int) -> None:
        feats = _perceptron_feats(batch, 5, train=False)
        scored = (
            feats.join(F.broadcast(w), "j")
            .groupBy("id", "y")
            .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
            .select(
                F.when(F.col("m") > 0, 1).otherwise(-1).cast("long").alias("pred"),
                F.col("y").alias("truth"),
            )
        )
        scored.write.mode("overwrite").parquet(f"{outdir}/batch={batch_id}")

    drain(stream.writeStream.foreachBatch(handle))
    return (
        _read_batches(spark, outdir)
        .groupBy("pred", "truth")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def run_streaming_sprt(
    spark: SparkSession,
    sf_dir: str,
    p0: float = 0.18,
    p1: float = 0.22,
    alpha: float = 0.05,
    beta: float = 0.2,
    chunks: int = 3,
) -> DataFrame:
    """LIVE sequential A/B monitor — SPRT is the natively-streaming test
    (Wald designed it to be evaluated after EVERY observation), so the
    stream IS the semantics: per-arm state is four integers
    ``(n, k, decision_n, decision)``; each arrival bumps the prefix
    counts, re-evaluates the exact BIGINT LLR against the embedded
    integer bounds, and latches the FIRST crossing (later data cannot
    un-decide — the sequential guarantee). In-order bounded replay
    (event_id-chunked; events' ts is monotone in event_id); the
    max-version row per arm equals batch ``ml.sprt`` and shares its
    oracle."""
    import os
    import pickle
    import tempfile
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from flink_example_spark.operators.ml import _sprt_weights
    from flink_example_spark.streaming.staging import stamp_chunk_mtimes
    from flink_example_spark.tables import load_table

    tune(spark)
    w1, w0, upper, lower = _sprt_weights(p0, p1, alpha, beta)
    ev = load_table(spark, sf_dir, "events")
    tmpdir = tempfile.mkdtemp(prefix="stream_sprt_")
    n = ev.count()
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        ev.filter(
            (F.col("event_id") >= i * per) & (F.col("event_id") < (i + 1) * per)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmpdir, f"chunk_{i}")
        )
    stamp_chunk_mtimes(tmpdir)
    stream = read_chunks(spark, tmpdir, ev.schema)
    src = stream.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("_k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.col("event_id").cast("long").alias("_seq"),
        (F.col("event_type") == "purchase").cast("long").alias("_y"),
    )
    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("version", LongType()),
            StructField("n", LongType()),
            StructField("kk", LongType()),
            StructField("llr", LongType()),
            StructField("decision_n", LongType(), True),
            StructField("decision", StringType(), True),
        ]
    )

    def process(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.exists:
            version, n_obs, k_succ, dec_n, dec = pickle.loads(state.get[0])
        else:
            version, n_obs, k_succ, dec_n, dec = 0, 0, 0, None, None
        rows = pd.concat(list(pdfs)).sort_values(["_us", "_seq"])
        for y in rows["_y"]:
            n_obs += 1
            k_succ += int(y)
            llr = k_succ * w1 + (n_obs - k_succ) * w0
            if dec is None:
                if llr >= upper:
                    dec, dec_n = "accept_h1", n_obs
                elif llr <= lower:
                    dec, dec_n = "accept_h0", n_obs
        version += 1
        state.update((pickle.dumps((version, n_obs, k_succ, dec_n, dec)),))
        llr = k_succ * w1 + (n_obs - k_succ) * w0
        yield pd.DataFrame(
            [(key[0], version, n_obs, k_succ, llr, dec_n, dec)],
            columns=[f.name for f in output_schema.fields],
        )

    out = src.groupBy("_k").applyInPandasWithState(
        process,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return spark.sql(
        """SELECT k AS variant, n AS n_total, kk AS k_total,
                   llr AS llr_final_micro, decision_n,
                   COALESCE(decision, 'continue') AS decision
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) rn
              FROM {t}
            ) WHERE rn = 1""",
        t=drain_to_table(out, "update"),
    )


def run_streaming_att_strata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE stratified treatment-effect monitor: the causal dashboard
    updating as events arrive. The per-USER profile (treated flag,
    outcome count, activity total) is three commutative monoids, so it
    maintains as ONE complete-mode JVM aggregation (state = three
    BIGINTs per user, no watermark, no Python); stratum assignment —
    which DEPENDS on the user's final activity total and therefore
    cannot be computed at ingest — plus the cell rollup and the
    common-support ATT combine all run at READ time over the user-sized
    profile relation, reusing batch :func:`operators.ml.att_strata`
    verbatim. The bounded replay converges to the batch estimate exactly
    (shared oracle)."""
    from flink_example_spark.operators.ml import att_strata
    from flink_example_spark.streaming.pipeline import stream_events

    tune(spark)
    ev = stream_events(spark, sf_dir)
    profile = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("treated"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("outcome"),
        F.count(F.lit(1)).alias("total"),
    )
    units = (
        drain_to_table(profile, "complete")
        .localCheckpoint(eager=True)
        .withColumn("stratum", F.expr("total div 4"))
    )
    return att_strata(units, "stratum", "treated", "outcome")


def run_streaming_roc_auc(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE ranking-quality (ROC-AUC) monitor: the per-(score, label)
    counts are the only stateful ingredient — a count monoid, ONE
    update-mode JVM aggregation (score-cardinality-sized state); the
    Mann-Whitney midrank closure runs at read time over the sink via
    ``ml.roc_auc_from_counts`` (distributed cumsum over the
    DISTINCT-score relation). Converges to the batch ``ml.roc_auc``
    BIT-exactly — same BIGINT sufficient statistics, same one double
    division — so it shares the ``ml_roc_auc`` oracle."""
    from flink_example_spark.operators.ml import roc_auc_from_counts
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    counts = (
        stream.filter(F.col("n_chars").isNotNull())
        .select(
            F.col("n_chars").alias("s"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
        )
        .groupBy("s", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # update-mode sink holds every emitted version; counts only grow, so
    # the final value per (s, y) is the max
    latest = (
        drain_to_table(counts, "update")
        .groupBy("s", "y")
        .agg(F.max("c").alias("c"))
    )
    return roc_auc_from_counts(latest)


def run_streaming_psi(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE drift gate: the PSI bucket counts ``(bucket, n_ref, n_cur)``
    are the only streaming state — a count monoid in ONE update-mode JVM
    aggregation (bucket-cardinality-sized); the share / floor-log2 PSI
    algebra (``ml.psi_from_counts``) runs at read time over the sink.
    BIT-equal to the batch ``ml_psi_drift`` (shared oracle) — the alarm
    a production scorer keeps hot so a distribution shift pages before
    the next batch job would have noticed."""
    from flink_example_spark.operators.ml import psi_from_counts
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "events", "event_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    counts = (
        stream.filter(F.col("value").isNotNull())
        .select(
            F.expr("CAST(floor(value) AS BIGINT) div 25").alias("bucket"),
            (F.col("event_type") == "error").cast("int").alias("cur"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.lit(1) - F.col("cur")).cast("long").alias("n_ref"),
            F.sum("cur").cast("long").alias("n_cur"),
        )
    )
    # update-mode sink keeps every emitted version; counts only grow, so
    # a bucket's final state is its max per component
    latest = drain_to_table(counts, "update").groupBy("bucket").agg(
        F.max("n_ref").alias("n_ref"), F.max("n_cur").alias("n_cur")
    )
    return psi_from_counts(latest)


def run_streaming_mutual_info(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE dependence screen between two categorical columns: the only
    streaming state is the (lang, source) contingency-cell count monoid
    (ONE update-mode JVM aggregation, cell-cardinality-sized); marginals,
    entropies and the quantized-log2 MI terms
    (``ml.mutual_info_from_cells``) are read-time algebra over the sink.
    BIT-equal to the batch ``ml_mutual_info`` (shared oracle)."""
    from flink_example_spark.operators.ml import mutual_info_from_cells
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    cells = (
        stream.filter(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .groupBy(F.col("lang").alias("a"), F.col("source").alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    versions = drain_to_table(cells, "update")
    latest = versions.groupBy("a", "b").agg(F.max("o").alias("o"))
    # the algebra joins `cells` against its own aggregates; memory-sink
    # branches share expr-ids (DESIGN.md "Conflicting attributes") — mint
    # fresh attributes with an RDD round-trip (cell-cardinality-sized)
    latest = fresh_local(latest)
    return mutual_info_from_cells(latest)


def run_streaming_logistic_inference(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """STREAMING logistic serving: the model trained in batch is FROZEN
    as three integer weights (the deployable artifact — no state at
    all), and arriving documents flow through the stateless scoring
    projection (exact BIGINT logits, embedded-table sigmoid) in append
    mode. A doc's score never depends on other docs, so any chunking is
    row-for-row equal to the batch ``ml_logistic_score`` — shares its
    oracle."""
    import __spark_entry__ as entry
    from flink_example_spark.operators.ml import logistic_score
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    w = entry._logistic_trained_weights(spark, sf_dir)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    scored = logistic_score(
        entry._logistic_feats(stream), w, ["en_hits", "len_b"], "doc_id"
    )
    return drain_to_table(scored, "append")


def run_streaming_switchback(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE switchback monitor: the per-(time-bucket, arm) counters of
    :func:`~flink_example_spark.operators.ml.switchback_buckets` are
    commutative sums keyed by static bucket attributes — ONE
    COMPLETE-mode aggregation holds them (complete, not update+max:
    ``s_inc`` is not monotone when outcomes can be negative, and the
    complete-mode memory sink replaces the table with the final state),
    and the shared read algebra
    (:func:`~flink_example_spark.operators.ml.switchback_from_buckets`)
    runs on top — hash-identical to batch ``ab_switchback`` (shares its
    oracle)."""
    from flink_example_spark.operators.ml import (
        switchback_buckets,
        switchback_from_buckets,
    )
    from flink_example_spark.streaming.staging import stage_table_by_key
    from flink_example_spark.tables import normalize_ts

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    buckets = switchback_buckets(normalize_ts(stream, "ts"))
    latest = drain_to_table(buckets, "complete")
    fresh = fresh_local(latest)
    return switchback_from_buckets(fresh)


def run_streaming_did(
    spark: SparkSession,
    sf_dir: str,
    cutoff_ts: str = "2024-01-15 00:00:00",
    chunks: int = 3,
) -> DataFrame:
    """LIVE difference-in-differences monitor: the four (group, period)
    count/outcome-sum cells are pure monoids keyed by STATIC attributes
    — ONE update-mode aggregation holds them, and the subtraction
    algebra (:func:`~flink_example_spark.operators.ml.did_from_cells`)
    runs at read; hash-identical to batch ``causal_did`` (shares its
    oracle)."""
    from flink_example_spark.operators.ml import did_from_cells
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    from flink_example_spark.tables import normalize_ts

    cells = (
        normalize_ts(stream, "ts")
        .select(
            F.expr("CAST(user_id % 2 = 1 AS BIGINT)").alias("g"),
            F.expr(
                f"CAST(ts >= TIMESTAMP '{cutoff_ts}' AS BIGINT)"
            ).alias("p"),
            F.expr("CAST(event_type = 'purchase' AS BIGINT)").alias("y"),
        )
        .groupBy("g", "p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
        )
    )
    # cumulative counts re-emitted per batch: col-wise max per cell is
    # the final state (both n and s are non-decreasing)
    latest = drain_to_table(cells, "update").groupBy("g", "p").agg(
        F.max("n").alias("n"), F.max("s").alias("s")
    )
    fresh = fresh_local(latest)
    return did_from_cells(fresh)


def run_streaming_ks(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE distribution-drift monitor: the per-value (c0, c1) counts of
    the KS test are the only streaming state — a count monoid in ONE
    update-mode JVM aggregation (quantized-metric-cardinality-sized);
    the cumulative/cross-multiplied KS statistic and the significance
    gate (``ml.ks_read``) run at read time over the sink. BIT-equal to
    the batch ``ml_ks_drift`` (shared oracle)."""
    from flink_example_spark.operators.ml import ks_read
    from flink_example_spark.streaming.staging import stage_table_by_key

    tune(spark)
    tmpdir, schema = stage_table_by_key(
        spark, sf_dir, "events", "event_id", chunks
    )
    stream = read_chunks(spark, tmpdir, schema)
    split = "unix_micros(CAST('2024-01-16 00:00:00' AS TIMESTAMP))"
    counts = (
        # NULL exclusion identical to batch ks_drift (ADVICE-r13): a
        # NULL ts belongs to neither arm, so the row is dropped entirely
        stream.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .selectExpr(
            f"CAST(unix_micros(CAST(ts AS TIMESTAMP)) >= {split} AS INT)"
            " AS arm",
            "CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq",
        )
        .groupBy("vq")
        .agg(
            F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("c0"),
            F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("c1"),
        )
    )
    # update-mode sink keeps every emitted version; counts only grow,
    # so a value's final state is its max per component
    latest = drain_to_table(counts, "update").groupBy("vq").agg(
        F.max("c0").alias("c0"), F.max("c1").alias("c1")
    )
    # ks_read now branches its input (dist_cumsum + the totals join) —
    # mint fresh expr-ids off the memory sink (round-8 device) so the
    # read-time self-join cannot hit "Conflicting attributes"
    fresh = fresh_local(latest)
    return ks_read(fresh)
