"""Streaming deduplication — dedup-on-ingest for a document stream.

``streaming_exact_dedup`` maintains the batch ``exact_dedup`` relation as a
streaming grouped aggregate keyed on the content hash (pure Structured
Streaming built-ins; state lives in the JVM state store, no Python in the
hot path): the min-id keeper and copy count update as documents arrive.
The production sink is a KV upsert (update mode); the bounded replay uses
complete mode into a memory sink and converges EXACTLY to batch.

Scale: one shuffle on the content hash — the same exchange the batch
aggregate needs; state per key is O(1) (keeper id + count).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_example_spark.session import tune
from flink_example_spark.operators.util import fresh_local
from flink_example_spark.streaming.staging import (
    drain,
    drain_to_table,
    read_chunks,
    stage_table_by_key,
)


def streaming_exact_dedup(
    doc_stream: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Running (content_md5 → min id, copy count) aggregate over a document
    stream; same output columns as the batch ``exact_dedup``."""
    return (
        doc_stream.groupBy(F.md5(F.col(content_col)).alias("content_md5"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "content_md5", "n_copies")
    )


def run_streaming_text_features(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """Streaming text analysis at ingest: the ``text_features`` projection
    (token counts, fingerprint, lang-id, quality) applied to a live document
    stream — stateless append mode, so it converges row-for-row to the batch
    relation (shared oracle). This is how the text operators run in an
    unbounded pipeline: pure Catalyst projections, no state store at all."""
    from flink_example_spark.operators.text import text_features

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    return drain_to_table(text_features(stream), "append")


def run_streaming_exact_dedup(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """Bounded replay of the documents table through the streaming dedup
    aggregate; converges exactly to the batch ``exact_dedup`` relation."""
    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    return drain_to_table(streaming_exact_dedup(stream), "complete")


def run_streaming_gopher(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """Streaming curation at ingest: the Gopher-style rule filter applied to
    a live document stream — stateless append mode, row-for-row equal to the
    batch ``gopher_flags`` relation (shared oracle). The shape every
    per-document curation rule takes in an unbounded pipeline: a pure
    Catalyst projection, no state store."""
    from flink_example_spark.operators.curation import gopher_flags

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    return drain_to_table(gopher_flags(stream), "append")


def run_streaming_lm_filter(
    spark: SparkSession,
    sf_dir: str,
    max_bits: float = 4.03,
    chunks: int = 3,
) -> DataFrame:
    """LM-score curation at ingest: documents scored per micro-batch against
    a FROZEN corpus-unigram LM (``lm_vocab`` trained in batch — the reference
    model a production filter loads), keeping docs whose average surprisal is
    ``<= max_bits`` (CCNet-style: drop the weird/noisy tail).

    The per-document score needs an explode→join→re-aggregate inside each
    batch, so this uses foreachBatch (full batch semantics per micro-batch;
    a document never spans batches, so batch-local aggregation is exact).
    The frozen model makes scores arrival-order-invariant → the union of
    per-batch outputs equals the batch ``lm_surprisal`` relation filtered at
    the same threshold, and the row shares its oracle. batch_id-keyed
    overwrite keeps the sink idempotent under at-least-once replay."""
    from flink_example_spark.operators.text import lm_surprisal, lm_vocab
    from flink_example_spark.streaming.pipeline import _read_batches
    from flink_example_spark.tables import load_table

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    freqs, total = lm_vocab(docs)
    # freeze the model once — every micro-batch joins the SAME counts
    freqs, total = freqs.localCheckpoint(), total.localCheckpoint()
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    sink = tempfile.mkdtemp(prefix="stream_lmfilter_")

    def handle(batch: DataFrame, batch_id: int) -> None:
        scored = lm_surprisal(batch, model=(freqs, total))
        kept = scored.filter(F.col("avg_surprisal_bits") <= max_bits)
        kept.write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    drain(stream.writeStream.foreachBatch(handle))
    return _read_batches(spark, sink)


def run_streaming_drift(spark: SparkSession, sf_dir: str, chunks: int = 3) -> DataFrame:
    """Streaming drift monitor: the CURRENT corpus half's length histogram
    is maintained live (complete-mode streaming aggregation — pure JVM
    state, one row per bucket) and chi-squared against a FROZEN reference
    histogram computed in batch, exactly the alarm loop a production ingest
    pipeline runs. Converges to the batch ``drift_chi2`` relation — shares
    its oracle."""
    from flink_example_spark.operators.curation import drift_chi2_from_hists
    from flink_example_spark.tables import load_table

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = (
        read_chunks(spark, tmpdir, schema)
        .filter(F.col("doc_id") % 2 == 1)
        .select((F.expr("n_chars DIV 50").cast("long") * 50).alias("bucket_lo"))
    )
    counts = stream.groupBy("bucket_lo").agg(F.count(F.lit(1)).alias("n_cur"))

    cur_hist = drain_to_table(counts, "complete")
    ref_hist = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .groupBy((F.expr("n_chars DIV 50").cast("long") * 50).alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    return drift_chi2_from_hists(ref_hist, cur_hist)


def run_streaming_minhash_dedup(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    chunks: int = 3,
) -> DataFrame:
    """STREAMING near-duplicate dedup: the portable-MinHash band-bucket
    minima maintained live as a pure-JVM streaming aggregate.

    ``minhash_portable_keep``'s only cross-document state is min(doc_id)
    per (band, key) — a commutative idempotent monoid — so the stream needs
    ONE stateful op (groupBy min, complete mode, no watermark) and no
    Python state; any arrival order / replay converges to the batch
    minima exactly. A document's signature involves only its own shingles,
    so it is computed per-ROW (one md5 pass into a base-hash array, then
    num_hashes interpreted array_min folds — per-batch work, zero state),
    keeping the stateful op's input rows at bands-per-doc.

    Finalize joins the live minima against the batch band rows — the
    incremental-ingest shape: the sink table IS the dedup index a resumed
    ingest would consult. Hash-identical to batch ``minhash_portable_keep``
    → shares its oracle.
    """
    from flink_example_spark.operators.dedup import (
        MINHASH_P,
        _portable_perm_coeffs,
        minhash_portable_keep,
    )
    from flink_example_spark.tables import load_table

    tune(spark)
    k = shingle_k
    r = num_hashes // bands
    cs = _portable_perm_coeffs(num_hashes)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    t = F.lower(F.col("text"))
    src = stream.filter(F.char_length(t) >= k).select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.char_length(t) - (k - 1)),
            lambda i: F.conv(
                F.substring(F.md5(F.substr(t, i, F.lit(k))), 1, 8), 16, 10
            ).cast("bigint"),
        ).alias("__bs"),
    )
    def perm(a: int, b: int):
        # PySpark inspects the lambda's arity — bind coefficients via a
        # closure, not default args (those read as extra parameters)
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)

    for i, (a, b) in enumerate(cs):
        src = src.withColumn(
            f"__h{i}", F.array_min(F.transform(F.col("__bs"), perm(a, b)))
        )
    stack = ", ".join(
        f"{b}, concat_ws('_', {', '.join(f'__h{b * r + j}' for j in range(r))})"
        for b in range(bands)
    )
    band_rows = src.select(
        "doc_id", F.expr(f"stack({bands}, {stack}) AS (band, key)")
    )
    minima = band_rows.groupBy("band", "key").agg(F.min("doc_id").alias("keeper"))
    bucket_minima = drain_to_table(minima, "complete")
    docs = load_table(spark, sf_dir, "documents")
    return minhash_portable_keep(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        bucket_minima=bucket_minima,
    ).select("doc_id", "lang", "source")


def run_streaming_trending_terms(
    spark: SparkSession, sf_dir: str, k: int = 5, chunks: int = 3
) -> DataFrame:
    """STREAMING trending terms: per-(lang, term) counts maintained live as
    one pure-JVM streaming aggregation (complete mode — counts are a
    commutative monoid, no watermark), with the top-``k`` rank applied to
    the converged table at read time (rank is not incrementally
    maintainable, but it runs over the |vocab|-sized count table, never
    the token stream). Converges to the batch ``text_top_terms`` relation
    → shares its oracle."""
    from pyspark.sql import Window

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    tf = (
        stream.select(
            "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
        )
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        drain_to_table(tf, "complete")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "term", "n", "rank")
    )


def run_streaming_ppjoin(
    spark: SparkSession,
    sf_dir: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    chunks: int = 3,
) -> DataFrame:
    """STREAMING exact similarity join — PPJoin's prefix index maintained
    LIVE (the NEXT-roadmap twin): every arriving document probes the
    accumulating per-prefix-token posting lists and emits each qualifying
    pair exactly once, the incremental-ingest shape of
    ``dedup.ppjoin_pairs``.

    Device: the global rare-first token order is a FROZEN statistic
    (document frequencies from the batch corpus — the same
    batch-trained/stream-served pattern as the NB / stump / perceptron
    inference twins; production would refresh it periodically) kept AS A
    DATAFRAME and attached to the live token stream by a STREAM-STATIC
    BROADCAST equi-join on the exploded (doc, token) relation — the
    vocabulary never funnels through the driver (no ``collect()``; at
    100 TB the vocabulary is billions of tokens). The Arrow stage then
    only assembles per-doc prefixes from the already-(df)-tagged rows
    with vectorized pandas groupbys and replicates the doc to its prefix
    tokens ``L = sz - ceil(t*sz) + 1`` (a doc's exploded rows cannot
    span partitions — explode and a broadcast join keep every derived
    row in its source row's partition). ONE stateful op keyed by prefix
    token keeps the posting list (doc, size, token set, prefix list); a
    new doc verifies against stored docs with integer cross-multiplied
    gates, and a pair is emitted ONLY at its minimal common prefix token
    in the frozen order — each pair exactly once, no cross-bucket dedup
    pass. Bounded replay equals batch ``ppjoin_pairs`` (shared oracle).

    Scale: state is the prefix index (rare tokens -> short lists, the
    PPJoin guarantee); emission is pair-sized; the frozen-df relation
    rides the JVM broadcast, never a Python closure.
    """
    import pickle
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from flink_example_spark.operators.text import normalized, tokens
    from flink_example_spark.tables import load_table

    tune(spark)
    tn, td = threshold_num, threshold_den
    docs = load_table(spark, sf_dir, "documents")
    # frozen rare-first order: a vocabulary-sized RELATION (df per token),
    # broadcast-joined below — never collected to the driver
    dfr = (
        docs.select(
            F.col("doc_id").alias("d"),
            F.explode(tokens(normalized(F.col("text")))).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .persist()
    )
    dfr.count()  # materialize once: each micro-batch re-reads the cache

    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    # exploded live token relation; stream-static broadcast join attaches
    # the frozen order JVM-side (left join: a token unseen at freeze time
    # sorts first with df=0, same as the batch twin's convention)
    ex = (
        stream.select(
            F.col("doc_id").cast("long").alias("d"),
            F.explode(
                F.array_distinct(tokens(normalized(F.col("text"))))
            ).alias("t"),
        )
        .filter(F.col("t") != "")
        .join(F.broadcast(dfr), "t", "left")
        .select("d", "t", F.coalesce("df", F.lit(0)).alias("df"))
    )

    prefix_schema = StructType(
        [
            StructField("t", StringType(), False),
            StructField("d", LongType(), False),
            StructField("sz", LongType(), False),
            StructField("toks", StringType(), False),
            StructField("pref", StringType(), False),
        ]
    )

    def _pref_len(sz: int, tn: int, td: int) -> int:
        return sz - (tn * sz + td - 1) // td + 1

    def to_prefix(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # one doc's rows never span partitions; concat the partition's
        # Arrow batches so a doc split across batch boundaries reunites
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        # frozen rare-first order within each doc: vectorized sort + rank
        pdf = pdf.sort_values(["d", "df", "t"], kind="mergesort")
        g = pdf.groupby("d", sort=False)
        pdf["rk"] = g.cumcount()
        pdf["sz"] = g["t"].transform("size")
        pdf["lp"] = pdf["sz"] - (tn * pdf["sz"] + td - 1) // td + 1
        pref_s = g["t"].apply(
            lambda s: " ".join(s.iloc[: _pref_len(len(s), tn, td)])
        )
        toks_s = g["t"].apply(lambda s: " ".join(sorted(s)))
        meta = pd.DataFrame({"pref": pref_s, "toks": toks_s})
        out = (
            pdf[pdf["rk"] < pdf["lp"]]
            .merge(meta, left_on="d", right_index=True)
            .loc[:, ["t", "d", "sz", "toks", "pref"]]
        )
        out["d"] = out["d"].astype("int64")
        out["sz"] = out["sz"].astype("int64")
        yield out

    pre = ex.mapInPandas(to_prefix, schema=prefix_schema)

    state_schema = StructType([StructField("pkl", BinaryType(), True)])
    output_schema = StructType(
        [
            StructField("id_a", LongType(), False),
            StructField("id_b", LongType(), False),
            StructField("inter", LongType(), False),
            StructField("size_a", LongType(), False),
            StructField("size_b", LongType(), False),
            StructField("jaccard", DoubleType(), False),
        ]
    )

    def probe(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        tkn = key[0]
        stored = pickle.loads(state.get[0]) if state.exists else []
        out = []
        batch = pd.concat(list(pdfs)).sort_values("d")
        for d, sz, toks_s, pref_s in zip(
            batch["d"], batch["sz"], batch["toks"], batch["pref"]
        ):
            d, sz = int(d), int(sz)
            tset = set(toks_s.split(" "))
            plist = pref_s.split(" ")
            for od, osz, otset, oplist in stored:
                if d == od:
                    continue
                a, b = (od, d) if od < d else (d, od)
                # size filter (integer cross-multiplication)
                if tn * sz > td * osz or tn * osz > td * sz:
                    continue
                # emit only at the minimal common prefix token
                opset = set(oplist)
                common = next((t for t in plist if t in opset), None)
                if common != tkn:
                    continue
                inter = len(tset & otset)
                if td * inter >= tn * (sz + osz - inter):
                    sa, sb = (osz, sz) if od < d else (sz, osz)
                    out.append(
                        (
                            a,
                            b,
                            inter,
                            sa,
                            sb,
                            float(inter) / float(sa + sb - inter),
                        )
                    )
            stored.append((d, sz, tset, plist))
        state.update((pickle.dumps(stored),))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in output_schema.fields]
            )

    pairs = pre.groupBy("t").applyInPandasWithState(
        probe,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = drain_to_table(pairs, "update")
    dfr.unpersist()
    return emitted


def run_streaming_burstiness(
    spark: SparkSession, sf_dir: str, chunks: int = 3
) -> DataFrame:
    """LIVE burstiness monitor: the (term, doc) tf counts are the only
    stateful ingredient — a plain count monoid, ONE update-mode JVM
    aggregation (term-doc-cardinality-sized state, the same posture as
    the golden-records name registry); the per-term df/S/Q rollup, the
    corpus-size complement, and the exact milli VMR run at read time
    over the sink. Converges to batch ``text.term_burstiness`` exactly
    (shared oracle)."""
    from flink_example_spark.operators.text import normalized, tokens

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    tf = (
        stream.select(
            F.col("doc_id").alias("d"),
            F.explode(tokens(normalized(F.col("text")))).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # update-mode sink holds every emitted version; final tf per (t, d)
    # is the max (counts only grow)
    latest = (
        drain_to_table(tf, "update")
        .groupBy("t", "d")
        .agg(F.max("tf").alias("tf"))
        .localCheckpoint(eager=True)
    )
    from flink_example_spark.tables import load_table

    n_docs = load_table(spark, sf_dir, "documents").select(
        F.count(F.lit(1)).cast("long").alias("n_corpus")
    )
    stats = latest.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").alias("s"),
        F.sum(F.col("tf") * F.col("tf")).alias("q"),
    )
    return (
        stats.filter(F.col("df") >= 5)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("t").alias("term"),
            "df",
            F.col("s").cast("long").alias("total_tf"),
            F.expr(
                "((n_corpus * q - s * s) * 1000) div (n_corpus * s)"
            ).alias("vmr_milli"),
        )
        .orderBy(F.col("vmr_milli").desc(), "term")
        .limit(20)
    )


def run_streaming_template_mining(
    spark: SparkSession, sf_dir: str, k: int = 8, chunks: int = 3
) -> DataFrame:
    """LIVE boilerplate-template miner: the only streaming state is the
    ``(prefix_key, suffix_key)`` count/min/sum monoid (ONE update-mode
    JVM aggregation, frame-cardinality-sized); the per-template rollup
    (n_docs, distinct endings, keeper id, bytes) is read-time algebra
    over the sink — countDistinct itself is NOT a monoid, but counting
    the (prefix, suffix) state rows IS. BIT-equal to the batch
    ``text_template_clusters`` (shared oracle): the miner an ingest
    pipeline keeps hot so a new mail-merge/spam frame alarms while the
    crawl is still running."""
    from flink_example_spark.operators.text import normalized, tokens

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    toks = F.filter(tokens(normalized(F.col("text"))), lambda t: t != "")
    keyed = (
        stream.select(
            F.col("doc_id").alias("d"), "n_chars", toks.alias("w")
        )
        .filter(F.size("w") >= 2 * k)
        .select(
            "d",
            "n_chars",
            F.concat_ws(" ", F.slice("w", 1, k)).alias("prefix_key"),
            F.concat_ws(" ", F.slice("w", -k, k)).alias("suffix_key"),
        )
    )
    state = keyed.groupBy("prefix_key", "suffix_key").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.min("d").cast("long").alias("mn"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    # update-mode sink keeps every emitted version; c/chars only grow and
    # mn only shrinks — take the per-key envelope, then roll up per frame
    latest = drain_to_table(state, "update").groupBy("prefix_key", "suffix_key").agg(
        F.max("c").alias("c"), F.min("mn").alias("mn"), F.max("chars").alias("chars")
    )
    return (
        latest.groupBy("prefix_key")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_suffixes"),
            F.min("mn").cast("long").alias("min_doc_id"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def run_streaming_substring_dedup(
    spark: SparkSession, sf_dir: str, k: int = 10, chunks: int = 3
) -> DataFrame:
    """LIVE substring-level corpus dedup (the round-13 Lee-et-al
    surgery's streaming twin): the corpus-global gram state — per
    hashed k-gram, the distinct-document spread and the corpus-minimum
    (doc, pos) canonical key — is maintained as ONE update-mode
    streaming aggregation over the hashed occurrence stream
    (``groupBy(__h, doc).min(__ok)``: both columns of the read are
    monoids — min-of-min is min, and the distinct-doc count is the
    per-(gram, doc) row count after the max-version collapse). The
    span surgery itself is read-time algebra over the sink
    ("monoid-in-state, algebra-at-read"), sharing the batch operator's
    coverage/reassembly helper — so the replay converges to batch
    ``substring_spans_dedup`` bit-exactly and shares its oracle.

    Scale note: streaming state is the distinct (gram, doc) pair
    relation — the same cardinality the batch shuffle carries; the
    gram string never enters the stream (xxhash64 only, the round-14
    shuffle diet)."""
    from flink_example_spark.operators.dedup import (
        _substring_occurrences,
        _substring_surgery,
    )
    from flink_example_spark.tables import load_table

    tune(spark)
    tmpdir, schema = stage_table_by_key(spark, sf_dir, "documents", "doc_id", chunks)
    stream = read_chunks(spark, tmpdir, schema)
    occ = _substring_occurrences(stream, k, "doc_id", "text")
    state = occ.groupBy("__h", "doc_id").agg(F.min("__ok").alias("__mo"))
    latest = drain_to_table(state, "update")
    fresh = fresh_local(latest)
    pairs = fresh.groupBy("__h", "doc_id").agg(F.min("__mo").alias("__mo"))
    rep = (
        pairs.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min("__mo").alias("__canon"),
        )
        .filter(F.col("__nd") >= 2)
        .select("__h", "__canon")
    )
    docs = load_table(spark, sf_dir, "documents")
    gh = _substring_occurrences(docs, k, "doc_id", "text")
    flagged = (
        gh.join(rep, "__h")
        .filter(F.col("__ok") != F.col("__canon"))
        .select("doc_id", "__pos")
        .distinct()
    )
    return _substring_surgery(docs, flagged, k, "doc_id", "text")
