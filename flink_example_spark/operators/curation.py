"""Corpus-curation operators for LLM training-data pipelines.

The steps a web-scale pretraining pipeline runs between raw crawl and
training shards — benchmark decontamination, boilerplate span detection,
within-document repetition scoring, PII / blocklist redaction, and
Gopher-style rule filtering. All hot-path logic is JVM-side Catalyst
expressions (explode + codegen, no Python UDFs), and every operator has a
DuckDB oracle template (CURATION_ORACLES) built from the same definition so
the driver's t2 gate hash-matches.

Scale design (100 TB posture):
- n-gram generation is explode(sequence) + element_at concat — whole-stage
  codegen rows, never higher-order array lambdas (interpreted; measured
  10-30x slower on this box for the shingling analog).
- decontamination joins the corpus n-gram stream against the benchmark
  n-gram SET: the benchmark side (eval suites: MMLU/GSM8K/... ~1e6 n-grams)
  is broadcast, so the corpus side streams map-side with NO shuffle;
  ``hashed=True`` reduces both sides to xxhash64(ngram) first (8-byte
  broadcast + shuffle keys — 2.6x fewer shuffle bytes at sf0.1).
- shared-span detection is one hash aggregation keyed on the span; at
  100 TB pass ``hashed=True`` to carry xxhash64(span) through the shuffle
  instead of the string and resolve strings only for the survivors.
- repetition / redaction / rule filters are per-row projections or a single
  map-side-combined aggregation — embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_example_spark.operators.util import local_df, spread

from flink_example_spark.operators.text import (
    STOPWORDS,
    alpha_ratio,
    token_count,
)

# --- word n-gram row stream (codegen) ----------------------------------------


def exploded_word_ngrams(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(id, ngram) rows of word n-grams over whitespace tokens, via
    explode(sequence) + element_at — whole-stage codegen end to end.
    Documents with fewer than n tokens produce no rows (the size guard also
    avoids Spark's descending ``sequence(a, b)`` when a > b)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        documents.select(F.col(id_col), w.alias("__w"))
        .filter(F.size("__w") >= n)
        .select(
            F.col(id_col),
            F.col("__w"),
            F.explode(F.sequence(F.lit(1), F.size("__w") - (n - 1))).alias("__i"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", *[F.element_at("__w", F.col("__i") + j) for j in range(n)]
            ).alias("__g"),
        )
    )


# --- benchmark decontamination ----------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Train/test decontamination: for every corpus document sharing at
    least one word n-gram with the benchmark set, return the count of
    distinct overlapping n-grams. Documents with no overlap are absent
    (join-then-aggregate keeps the output proportional to contamination,
    not corpus size).

    The benchmark n-gram set is broadcast — the corpus n-gram stream is
    filtered map-side with no shuffle of corpus data; the only exchange is
    the per-document count aggregation over the (tiny) hit stream.

    ``hashed=True`` is the 100 TB shuffle diet this module's header
    prescribes: both sides reduce to ``xxhash64(ngram)`` before the join,
    so the broadcast table and the aggregation shuffle carry 8-byte longs
    instead of ~n-word strings (2.6x fewer shuffle bytes measured at
    sf0.1). Counting distinct hashes instead of
    distinct strings differs only on a 64-bit collision *within one
    document's overlap set* — at 1e6 benchmark n-grams the chance is
    ~1e-7 per corpus — which is why the exact form stays the oracle
    default.
    """
    doc_g = exploded_word_ngrams(corpus, id_col, text_col, n)
    bench_g = exploded_word_ngrams(benchmark, id_col, text_col, n)
    if hashed:
        doc_g = doc_g.select(id_col, F.xxhash64("__g").alias("__g"))
        bench_g = bench_g.select(F.xxhash64("__g").alias("__g"))
    return (
        doc_g.join(F.broadcast(bench_g.select("__g").distinct()), "__g")
        .groupBy(id_col)
        .agg(F.countDistinct("__g").alias("n_contaminated"))
    )


def ngram_bloom(
    documents: DataFrame,
    n: int = 8,
    m: int = 1 << 20,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter bitmap of the documents' word n-gram set: ``m`` bits
    packed into ``m/64`` longs — ``(word_idx, bits)`` rows built by a
    ``bit_or`` aggregation (map-side combined; bitmaps of disjoint shards
    MERGE by bit_or, so the filter composes incrementally like the KMV
    sketch).

    Probes are engine-portable double hashing: ``h1``/``h2`` = the first /
    second 8 md5-hex digits of the n-gram as BIGINTs, probe i sets bit
    ``(h1 + i*h2) mod m`` — pure integer arithmetic both engines evaluate
    identically, so membership (INCLUDING false positives) is
    deterministic and oracle-checkable.

    At 100 TB posture this is the decontamination broadcast diet: a 2^20-bit
    filter is 16 K rows / 128 KB regardless of benchmark size, vs
    broadcasting the full n-gram (or even hashed) set.
    """
    g = exploded_word_ngrams(documents, id_col, text_col, n).select("__g").distinct()
    probes = _bloom_probes(g, m, k)
    return (
        probes.select(
            F.expr("__pos div 64").alias("word_idx"),
            F.expr("shiftleft(1L, int(__pos % 64))").alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def _bloom_probes(grams: DataFrame, m: int, k: int) -> DataFrame:
    """Append k probe positions per row (explodes k rows per input row)."""
    h1 = F.conv(F.substring(F.md5("__g"), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5("__g"), 9, 8), 16, 10).cast("bigint")
    return grams.withColumn(
        "__pos",
        F.explode(F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])),
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m: int = 1 << 20,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Decontamination through a Bloom filter of the benchmark n-gram set:
    for every corpus document, the count of distinct n-grams whose k probe
    bits are ALL set — a superset of true overlaps by exactly the filter's
    (deterministic) false positives. Output: ``(doc_id, n_flagged)``.

    The bitmap (``m/64`` rows) is broadcast; corpus n-grams stream map-side
    through the probe join, and only flagged grams reach the per-document
    count — the same output-proportional-to-contamination shape as exact
    ``decontaminate``, with a benchmark-size-independent broadcast."""
    bitmap = ngram_bloom(benchmark, n=n, m=m, k=k, id_col=id_col, text_col=text_col)
    dg = (
        exploded_word_ngrams(corpus, id_col, text_col, n)
        .select(id_col, "__g")
        .distinct()
    )
    probes = _bloom_probes(dg, m, k)
    tested = probes.join(
        F.broadcast(bitmap), F.expr("__pos div 64") == F.col("word_idx"), "left"
    ).select(
        id_col,
        "__g",
        (
            F.col("bits").isNotNull()
            & (F.expr("bits & shiftleft(1L, int(__pos % 64))") != 0)
        ).alias("__set"),
    )
    flagged = (
        tested.groupBy(id_col, "__g")
        .agg(F.sum(F.when(F.col("__set"), 1).otherwise(0)).alias("__n_set"))
        .filter(F.col("__n_set") == k)
    )
    return flagged.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_flagged"))


def bloom_decontamination_oracle(
    n: int, bench_mod: int, m: int = 1 << 20, k: int = 4
) -> str:
    """Set-logic twin of the bitmap path: a gram is flagged iff all k probe
    positions are in the benchmark's set-bit set — mathematically identical
    to testing the bit_or bitmap, with no SQL bit gymnastics."""
    probe = (
        f"(CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT)"
        f" + i * CAST(concat('0x', substr(md5(g), 9, 8)) AS BIGINT)) % {m}"
    )
    return f"""
        WITH grams AS ({_duck_gram_rows(n)}),
        ii AS (SELECT unnest(range({k})) AS i),
        bench_bits AS (
          SELECT DISTINCT {probe} AS pos
          FROM (SELECT DISTINCT g FROM grams WHERE doc_id % {bench_mod} = 0)
          CROSS JOIN ii
        ),
        cp AS (
          SELECT doc_id, g, {probe} AS pos
          FROM (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % {bench_mod} <> 0)
          CROSS JOIN ii
        ),
        hits AS (
          SELECT doc_id, g FROM cp JOIN bench_bits USING (pos)
          GROUP BY doc_id, g HAVING COUNT(*) = {k}
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
        FROM hits GROUP BY doc_id
    """


# --- cross-document span dedup (C4-style boilerplate detection) --------------


def shared_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Word n-gram spans appearing in >= min_docs distinct documents —
    the C4/RefinedWeb "repeated line/paragraph" boilerplate signal, at
    n-gram granularity. Output: span, n_docs, n_occurrences.

    One hash aggregation keyed on the span (map-side combined).

    ``hashed=True`` is the 100 TB shuffle diet this module's header
    prescribes: the aggregation shuffles ``xxhash64(span)`` (8 bytes)
    instead of the ~n-word string, then resolves strings for the
    SURVIVORS only — the survivor set broadcasts back onto the n-gram
    stream map-side, and the final min-string aggregation shuffles only
    surviving occurrences. Identical output unless two distinct surviving
    spans collide at 64 bits (~1e-13 for 1e6 survivors); the exact form
    stays the oracle default.
    """
    g = exploded_word_ngrams(documents, id_col, text_col, n)
    if not hashed:
        return (
            g.groupBy("__g")
            .agg(
                F.countDistinct(id_col).alias("n_docs"),
                F.count(F.lit(1)).alias("n_occurrences"),
            )
            .filter(F.col("n_docs") >= min_docs)
            .select(F.col("__g").alias("span"), "n_docs", "n_occurrences")
        )
    # The hashed path consumes the exploded n-gram stream TWICE (survivor
    # aggregation + survivor string resolution); without a cut the shingling
    # recomputes per consumer (the multi-consumer recompute pitfall). One
    # projection carries both (__g, __h), checkpointed once.
    gh = g.select(id_col, "__g", F.xxhash64("__g").alias("__h")).localCheckpoint()
    survivors = (
        gh.groupBy("__h")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return (
        gh.select("__g", "__h")
        .join(F.broadcast(survivors), "__h")
        .groupBy("__h", "n_docs", "n_occurrences")
        .agg(F.min("__g").alias("span"))
        .select("span", "n_docs", "n_occurrences")
    )


def remove_shared_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate REMOVAL (not just detection): every
    token covered by a word n-gram that appears in >= min_docs distinct
    documents is dropped, and the survivors reassemble in order. Output:
    ``(doc_id, clean_text, n_tokens_removed)`` — one row per input document
    (whitespace normalized to single spaces; a fully-boilerplate document
    yields an empty string).

    Overlapping shared spans merge implicitly: token t is covered iff ANY
    flagged n-gram starts in [t-n+1, t], computed as a MAX over an n-row
    sliding frame — no interval-union pass, no self-join.

    Scale shape: one gram aggregation (the shared-span detection shuffle),
    one equi-join of flagged starts back onto the token stream (keyed
    (doc, pos) — never a range join), one per-doc window + reassembly
    aggregation. Tokens shuffle once; spans never materialize per token.
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = documents.select(F.col(id_col), F.posexplode(w).alias("__p0", "__tok")).select(
        F.col(id_col), (F.col("__p0") + 1).alias("__pos"), "__tok"
    )
    grams = (
        documents.select(F.col(id_col), w.alias("__w"))
        .filter(F.size("__w") >= n)
        .select(
            F.col(id_col),
            F.col("__w"),
            F.explode(F.sequence(F.lit(1), F.size("__w") - (n - 1))).alias("__pos"),
        )
        .select(
            F.col(id_col),
            "__pos",
            F.concat_ws(
                " ", *[F.element_at("__w", F.col("__pos") + j) for j in range(n)]
            ).alias("__g"),
        )
    )
    shared = (
        grams.groupBy("__g")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__g")
    )
    flagged = (
        grams.join(F.broadcast(shared), "__g").select(id_col, "__pos").distinct()
    )
    from pyspark.sql import Window

    cover_w = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(-(n - 1), 0)
    )
    covered = (
        toks.join(flagged.withColumn("__flag", F.lit(1)), [id_col, "__pos"], "left")
        .select(
            F.col(id_col),
            "__pos",
            "__tok",
            F.coalesce(F.col("__flag"), F.lit(0)).alias("__flag"),
        )
        .withColumn("__cov", F.max("__flag").over(cover_w))
    )
    return covered.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__cov") == 0, F.struct("__pos", "__tok")
                        )
                    )
                ),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
        F.sum("__cov").cast("bigint").alias("n_tokens_removed"),
    )


def remove_shared_spans_oracle(n: int, min_docs: int) -> str:
    """DuckDB twin: same flag-the-start / sliding-MAX coverage / ordered
    string_agg reassembly."""
    return f"""
        WITH w AS (SELECT doc_id, {_DUCK_W} AS w FROM documents),
        toks AS (
          SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok FROM w
        ),
        grams AS (
          SELECT doc_id, generate_subscripts({_duck_ngrams(n)}, 1) AS pos,
                 unnest({_duck_ngrams(n)}) AS g
          FROM w WHERE len(w) >= {n}
        ),
        shared AS (
          SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {min_docs}
        ),
        flagged AS (
          SELECT DISTINCT doc_id, pos FROM grams JOIN shared USING (g)
        ),
        cov AS (
          SELECT t.doc_id, t.pos, t.tok,
                 MAX(CASE WHEN f.pos IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY t.doc_id ORDER BY t.pos
                         ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW) AS covered
          FROM toks t LEFT JOIN flagged f
            ON t.doc_id = f.doc_id AND t.pos = f.pos
        )
        SELECT doc_id,
               COALESCE(string_agg(tok, ' ' ORDER BY pos)
                          FILTER (WHERE covered = 0), '') AS clean_text,
               CAST(SUM(covered) AS BIGINT) AS n_tokens_removed
        FROM cov GROUP BY doc_id
    """


# --- within-document repetition (Gopher-style) -------------------------------


def repetition_stats(
    documents: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition: total n-grams, distinct n-grams, and
    rep_ratio = 1 - distinct/total (the Gopher "fraction of duplicate
    n-grams" quality signal). Documents with fewer than n tokens are
    excluded. Single map-side-combined aggregation."""
    g = exploded_word_ngrams(documents, id_col, text_col, n)
    return (
        g.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.countDistinct("__g").alias("n_distinct"),
        )
        .select(
            F.col(id_col),
            "n_ngrams",
            "n_distinct",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double") / F.col("n_ngrams").cast("double")
            ).alias("rep_ratio"),
        )
    )


# --- PII / blocklist redaction -----------------------------------------------

# Default PII patterns, restricted to constructs java.util.regex (Spark) and
# RE2 (DuckDB/Trino) interpret identically: character classes, bounded
# repetition, alternation, \b word boundaries. No backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,14}[0-9]"


def regex_redact(text: Column, pattern: str, replacement: str = "[REDACTED]") -> Column:
    """Replace every match of ``pattern`` (global) with ``replacement`` —
    pure Catalyst regexp_replace, codegen, no Python."""
    return F.regexp_replace(text, pattern, replacement)


def redaction_stats(
    documents: DataFrame,
    pattern: str,
    replacement: str = "[REDACTED]",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document redaction audit: match count and the fingerprint of the
    redacted text (md5 — cross-engine reproducible). The scrub itself is a
    projection; run it inline in the write path at scale, never as a
    separate pass over the corpus."""
    t = F.col(text_col)
    return documents.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0))).alias("n_redactions"),
        F.md5(regex_redact(t, pattern, replacement)).alias("redacted_fp"),
    )


# --- Gopher-style rule filter ------------------------------------------------


def gopher_flags(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality-rule flags (Gopher §A1-style): token-count
    bounds, mean word length band, alphabetic ratio, and an
    English-function-word requirement; ``passes`` is the conjunction.
    Pure per-row projection — embarrassingly parallel."""
    t = F.col(text_col)
    nt = token_count(t).cast("double")
    # mean word length over non-whitespace characters
    mean_wl = F.length(F.regexp_replace(t, r"\s", "")).cast("double") / F.greatest(
        nt, F.lit(1.0)
    )
    stop_hits = F.size(
        F.array_intersect(
            F.split(F.trim(t), r"\s+"),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    flags = {
        "r_min_tokens": nt >= 15,
        "r_max_tokens": nt <= 400,
        "r_word_len": (mean_wl >= 2.0) & (mean_wl <= 10.0),
        "r_alpha": alpha_ratio(t) >= 0.6,
        "r_stopword": stop_hits >= 1,
    }
    out = documents.select(
        F.col(id_col), *[v.alias(k) for k, v in flags.items()]
    )
    passes = F.lit(True)
    for k in flags:
        passes = passes & F.col(k)
    return out.withColumn("passes", passes)


# --- consolidated per-document quality relation -------------------------------


def doc_quality(
    documents: DataFrame,
    pattern: str,
    replacement: str = "[REDACTED]",
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One per-document quality relation combining the Gopher rule flags,
    the redaction audit, and the n-gram repetition stats — the columns a
    curation run actually filters on, in one pass.

    Plan shape: the flags + redaction columns are a single projection over
    the document row (no shuffle); repetition needs one map-side-combined
    aggregation, joined back on the id. Documents with < n tokens carry NULL
    repetition columns (LEFT join)."""
    flags = gopher_flags(documents, id_col, text_col)
    red = redaction_stats(documents, pattern, replacement, id_col, text_col)
    rep = repetition_stats(documents, n, id_col, text_col)
    return flags.join(red, id_col).join(rep, id_col, "left")


def doc_quality_oracle(pattern: str, replacement: str, n: int = 2) -> str:
    return f"""
        WITH flags AS ({GOPHER_ORACLE}),
        red AS ({redaction_oracle(pattern, replacement)}),
        rep AS ({repetition_oracle(n)})
        SELECT flags.*, red.n_redactions, red.redacted_fp,
               rep.n_ngrams, rep.n_distinct, rep.rep_ratio
        FROM flags
        JOIN red USING (doc_id)
        LEFT JOIN rep USING (doc_id)
    """


def dist_stats(
    documents: DataFrame,
    n_shards: int = 8,
    bucket_chars: int = 50,
    key_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Consolidated corpus-distribution stats: the shard-balance relation and
    the length histogram, tag-unioned to one schema
    (kind, k, n_docs, v1, v2). Both halves are single map-side-combined
    aggregations; the union adds no shuffle."""
    sh = shard_stats(documents, n_shards, key_col, text_col).select(
        F.lit("shard").alias("kind"),
        F.col("shard").cast("long").alias("k"),
        "n_docs",
        F.col("n_tokens").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
    )
    lh = length_histogram(documents, bucket_chars, len_col).select(
        F.lit("len").alias("kind"),
        F.col("bucket_lo").alias("k"),
        "n_docs",
        F.col("min_chars").alias("v1"),
        F.col("max_chars").alias("v2"),
    )
    return sh.unionByName(lh)


def dist_stats_oracle(n_shards: int = 8, bucket_chars: int = 50) -> str:
    return f"""
        SELECT 'shard' AS kind, CAST(shard AS BIGINT) AS k, n_docs,
               n_tokens AS v1, CAST(NULL AS BIGINT) AS v2
        FROM ({shard_stats_oracle(n_shards)})
        UNION ALL
        SELECT 'len' AS kind, bucket_lo AS k, n_docs,
               min_chars AS v1, max_chars AS v2
        FROM ({length_histogram_oracle(bucket_chars)})
    """


# --- training-sequence construction ------------------------------------------


def pack_sequences(
    documents: DataFrame,
    ctx_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style sequence packing: within each (hash-assigned) shard the
    documents concatenate into one token stream in ``id_col`` order, and
    that stream chunks into fixed ``ctx_len`` context windows. Output maps
    every document to its place in the packed stream: ``(shard, doc_id,
    n_tok, start_tok, first_bin, last_bin, n_bins)`` — start offset
    (0-based within shard), the first/last training sequences the document
    lands in, and how many it spans. Zero-token documents are excluded
    (they occupy no stream positions).

    Scale shape: a per-shard running-sum window (ordered by id). Shards
    bound the sequential region — the window sorts within a shard only, so
    parallelism = n_shards and each shard's cumsum is one Exchange+Sort,
    the same shape as version_history. Deterministic across engines: shard
    assignment is the portable md5 bucket, ordering is the id."""
    sized = documents.select(
        (_hash_bucket(F.col(id_col).cast("string")) % n_shards)
        .cast("int")
        .alias("shard"),
        F.col(id_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn("__end", F.sum("n_tok").over(w)).select(
        "shard",
        id_col,
        "n_tok",
        (F.col("__end") - F.col("n_tok")).alias("start_tok"),
        F.expr(f"(__end - n_tok) div {ctx_len}").alias("first_bin"),
        F.expr(f"(__end - 1) div {ctx_len}").alias("last_bin"),
    )
    return packed.withColumn(
        "n_bins", (F.col("last_bin") - F.col("first_bin") + 1).cast("bigint")
    )


def pack_sequences_oracle(
    ctx_len: int, n_shards: int, source: str = "documents"
) -> str:
    return f"""
        WITH sized AS (
          SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 10000 % {n_shards} AS INTEGER) AS shard,
                 doc_id,
                 CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                           ELSE len({_DUCK_W}) END AS BIGINT) AS n_tok
          FROM {source}
        ), packed AS (
          SELECT shard, doc_id, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
          FROM sized WHERE n_tok > 0
        )
        SELECT shard, doc_id, n_tok, e - n_tok AS start_tok,
               (e - n_tok) // {ctx_len} AS first_bin,
               (e - 1) // {ctx_len} AS last_bin,
               (e - 1) // {ctx_len} - (e - n_tok) // {ctx_len} + 1 AS n_bins
        FROM packed
    """


def chunk_tokens(
    documents: DataFrame,
    chunk_len: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping token windows: each document splits into
    chunks of ``chunk_len`` tokens advancing by ``chunk_len - overlap``;
    the final chunk may be shorter, and every token is covered. Output:
    ``(doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_text)``.

    Pure codegen — explode(sequence) for the starts, ``slice`` +
    ``concat_ws`` for the chunk text; no Python, no shuffle (a per-row
    flatMap the scan pipelines through)."""
    if not 0 <= overlap < chunk_len:
        raise ValueError(f"need 0 <= overlap < chunk_len, got {overlap}/{chunk_len}")
    stride = chunk_len - overlap
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        documents.select(F.col(id_col), w.alias("__w"))
        .select(
            F.col(id_col),
            "__w",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.lit(1), F.size("__w") - F.lit(overlap)),
                    F.lit(stride),
                )
            ).alias("start_tok"),
        )
        .select(
            F.col(id_col),
            F.expr(f"(start_tok - 1) div {stride}").cast("int").alias("chunk_idx"),
            F.col("start_tok").cast("int").alias("start_tok"),
            F.least(F.lit(chunk_len), F.size("__w") - F.col("start_tok") + 1)
            .cast("int")
            .alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice("__w", F.col("start_tok"), chunk_len)).alias(
                "chunk_text"
            ),
        )
    )


def chunk_tokens_oracle(chunk_len: int, overlap: int) -> str:
    stride = chunk_len - overlap
    return f"""
        WITH w AS (SELECT doc_id, {_DUCK_W} AS w FROM documents),
        starts AS (
          SELECT doc_id, w,
                 unnest(range(1, greatest(1, len(w) - {overlap}) + 1, {stride})) AS s
          FROM w
        )
        SELECT doc_id, CAST((s - 1) // {stride} AS INTEGER) AS chunk_idx,
               CAST(s AS INTEGER) AS start_tok,
               CAST(least({chunk_len}, len(w) - s + 1) AS INTEGER) AS n_chunk_tokens,
               array_to_string(w[s:s + {chunk_len} - 1], ' ') AS chunk_text
        FROM starts
    """


# --- deterministic sampling & sharding ---------------------------------------


def _hash_bucket(key: Column, buckets: int = 10_000) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): first 8 hex
    digits of md5(key) mod buckets. Unlike rand()/TABLESAMPLE, the sample is
    reproducible across runs, engines, and cluster layouts — required for
    auditable corpus construction."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % buckets


def hash_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", buckets: int = 10_000
) -> DataFrame:
    """Keep ~fraction of rows, chosen by the portable hash bucket — a pure
    map-side filter, no shuffle, no RNG state."""
    return df.filter(_hash_bucket(F.col(key_col), buckets) < int(fraction * buckets))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing step (e.g.
    keep 50% of en, 25% of de). Strata absent from ``fractions`` are
    dropped. Still a pure map-side filter."""
    thresh = F.lit(-1)
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * buckets))
        ).otherwise(thresh)
    return df.filter(_hash_bucket(F.col(key_col), buckets) < thresh)


def temperature_mix(
    df: DataFrame,
    target_total: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Temperature-based domain rebalancing at T=2 (alpha=0.5): sample the
    corpus down to ~``target_total`` rows with per-domain keep rates
    proportional to ``sqrt(n_d)/n_d`` — the multilingual-LM mixing rule
    (sampling exponent alpha = 1/T) that up-weights small domains and
    damps head domains.

    Determinism across engines: alpha=0.5 is the one temperature whose
    power is IEEE-exactly-rounded everywhere (``sqrt``; other alphas need
    libm ``pow``, which varies in the last ulp). Even so, sqrt(n_d) is
    QUANTIZED to integer micro-units before the normalizing sum —
    ``s_d = floor(sqrt(n_d) * 1e6)`` — so the sum is exact integer
    arithmetic and no cross-engine double-accumulation-order hazard exists
    (DESIGN.md: never SUM raw doubles). The per-domain keep threshold is
    then the integer ``(target_total * s_d * buckets) div (S * n_d)``
    compared against the portable md5 bucket of the row key — a pure
    map-side filter after one tiny domain-count aggregate (broadcast back).

    Domains whose computed rate exceeds 1 keep everything (small-domain
    clamp). Output: the kept rows, original columns.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    s = counts.withColumn(
        "__s", F.floor(F.sqrt(F.col("__n").cast("double")) * F.lit(1e6)).cast("bigint")
    )
    tot = s.agg(F.sum("__s").alias("__tot"))
    rates = s.crossJoin(F.broadcast(tot)).select(
        domain_col,
        F.least(
            F.lit(int(buckets)).cast("bigint"),
            F.expr(f"({int(target_total)} * __s * {int(buckets)}) div (__tot * __n)"),
        ).alias("__thresh"),
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(_hash_bucket(F.col(key_col), buckets) < F.col("__thresh"))
        .drop("__thresh")
    )


def temperature_mix_oracle(
    target_total: int,
    domain_col: str = "source",
    buckets: int = 1_000_000,
    source: str = "documents",
) -> str:
    """DuckDB twin of ``temperature_mix``; ``source`` is the corpus
    relation (or parenthesized subquery)."""
    return f"""
        WITH counts AS (
          SELECT {domain_col}, CAST(COUNT(*) AS BIGINT) AS n
          FROM {source} GROUP BY {domain_col}
        ), s AS (
          SELECT {domain_col}, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS s
          FROM counts
        ), tot AS (SELECT CAST(SUM(s) AS BIGINT) AS S FROM s),
        rates AS (
          SELECT {domain_col},
                 least(CAST({int(buckets)} AS BIGINT),
                       ({int(target_total)} * s.s * {int(buckets)}) // (tot.S * s.n))
                   AS thresh
          FROM s CROSS JOIN tot
        )
        SELECT d.doc_id, d.{domain_col}, d.lang
        FROM {source} d JOIN rates USING ({domain_col})
        WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % {int(buckets)} < rates.thresh
    """


def domain_cap(
    df: DataFrame,
    cap: int = 10,
    domain_col: str = "source",
    key_col: str = "doc_id",
    n_salt: int = 8,
) -> DataFrame:
    """Per-domain document caps: keep at most ``cap`` docs per domain,
    chosen by the portable md5(id) order — the anti-dominance step that
    stops one crawl host from swamping the training mix, reproducible
    across engines and cluster layouts (no RNG).

    Scale: two-phase top-k so a mega-domain can't serialize through one
    partition's sort — phase 1 takes the per-(domain, salt) top-``cap``
    (the hot domain spreads over ``n_salt`` sub-partitions), phase 2
    re-ranks the ≤ n_salt*cap survivors per domain. Exact: the global
    per-domain top-cap is always contained in the union of per-salt
    top-caps.
    """
    from pyspark.sql import Window

    d = df.withColumn("__h", F.md5(F.col(key_col).cast("string"))).withColumn(
        "__s", (_hash_bucket(F.col(key_col)) % n_salt).cast("int")
    )
    w1 = Window.partitionBy(domain_col, "__s").orderBy("__h", key_col)
    cand = d.withColumn("__r", F.row_number().over(w1)).filter(F.col("__r") <= cap)
    w2 = Window.partitionBy(domain_col).orderBy("__h", key_col)
    return (
        cand.drop("__r")
        .withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= cap)
        .drop("__r", "__h", "__s")
    )


def domain_cap_oracle(cap: int = 10) -> str:
    """Single-rank oracle for ``domain_cap`` (two-phase == direct top-k)."""
    return f"""
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        ) WHERE rn <= {cap}
    """


def shard_stats(
    df: DataFrame,
    n_shards: int = 8,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to training shards by the portable hash (map-side,
    size-independent) and report per-shard balance: doc count and token sum.
    Hash sharding is the scale answer — balance follows from the law of
    large numbers, no global sort or coordination; greedy bin-packing would
    serialize through one node. Output: (shard, n_docs, n_tokens)."""
    sharded = df.select(
        (_hash_bucket(F.col(key_col)) % n_shards).cast("int").alias("shard"),
        token_count(F.col(text_col)).alias("__nt"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
    )


def length_histogram(
    df: DataFrame, bucket_chars: int = 50, len_col: str = "n_chars"
) -> DataFrame:
    """Corpus length distribution: fixed-width buckets over the length
    column — the quick-look stat every curation run starts with. Integer
    bucketing (floor division) keeps it engine-exact; single
    map-side-combined aggregation."""
    b = F.expr(f"{len_col} DIV {bucket_chars}").cast("long")
    return (
        df.groupBy((b * bucket_chars).alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(len_col).cast("long").alias("min_chars"),
            F.max(len_col).cast("long").alias("max_chars"),
        )
    )


def drift_chi2(
    reference: DataFrame,
    current: DataFrame,
    bucket_chars: int = 50,
    len_col: str = "n_chars",
) -> DataFrame:
    """Distribution-drift detection between two corpus snapshots (shards,
    crawl waves, pipeline versions): per-bucket chi-square contributions of
    the ``current`` length histogram against the ``reference`` one — the
    monitoring gate a production ingest pipeline alarms on.

    Per bucket with reference mass: e = n_ref * (N_cur / N_ref) and
    contrib = (n_cur - e)^2 / e, QUANTIZED to integer micro-units
    (floor(x*1e6 + 0.5)) so any downstream total is an exact integer sum
    (DESIGN.md: never SUM raw doubles across engines). Buckets present only
    in ``current`` (no expected mass) report null contrib — they are the
    strongest drift signal and surface as rows, not as division blowups.

    Two map-side-combined histogram aggregations + one broadcast-back of
    the two scalar totals; the bucket join is histogram-sized.
    """
    ref = (
        reference.groupBy(
            (F.expr(f"{len_col} DIV {bucket_chars}").cast("long") * bucket_chars).alias(
                "bucket_lo"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    cur = (
        current.groupBy(
            (F.expr(f"{len_col} DIV {bucket_chars}").cast("long") * bucket_chars).alias(
                "bucket_lo"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    return drift_chi2_from_hists(ref, cur)


def drift_chi2_from_hists(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Chi-square combine of two pre-aggregated histograms —
    ``(bucket_lo, n_ref)`` vs ``(bucket_lo, n_cur)``. Split out so a
    stream-maintained current histogram can reuse the exact batch
    arithmetic (streaming twin shares the batch oracle)."""
    totals = ref.agg(F.sum("n_ref").alias("__nr")).crossJoin(
        cur.agg(F.sum("n_cur").alias("__nc"))
    )
    j = (
        ref.join(cur, "bucket_lo", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket_lo",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            "__nr",
            "__nc",
        )
    )
    e = F.col("n_ref").cast("double") * (
        F.col("__nc").cast("double") / F.col("__nr").cast("double")
    )
    contrib = (F.col("n_cur").cast("double") - e) * (
        F.col("n_cur").cast("double") - e
    ) / e
    return j.select(
        "bucket_lo",
        "n_ref",
        "n_cur",
        F.when(
            F.col("n_ref") > 0,
            F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
        ).alias("chi2_q6"),
    )


def drift_chi2_oracle(
    ref_where: str, cur_where: str, bucket_chars: int = 50
) -> str:
    """DuckDB twin over the documents table split by two predicates."""
    return f"""
        WITH ref AS (
          SELECT CAST((n_chars // {bucket_chars}) * {bucket_chars} AS BIGINT)
                   AS bucket_lo, CAST(COUNT(*) AS BIGINT) AS n_ref
          FROM documents WHERE {ref_where} GROUP BY 1
        ), cur AS (
          SELECT CAST((n_chars // {bucket_chars}) * {bucket_chars} AS BIGINT)
                   AS bucket_lo, CAST(COUNT(*) AS BIGINT) AS n_cur
          FROM documents WHERE {cur_where} GROUP BY 1
        ), totals AS (
          SELECT (SELECT CAST(SUM(n_ref) AS BIGINT) FROM ref) AS nr,
                 (SELECT CAST(SUM(n_cur) AS BIGINT) FROM cur) AS nc
        )
        SELECT bucket_lo,
               COALESCE(n_ref, 0) AS n_ref,
               COALESCE(n_cur, 0) AS n_cur,
               CASE WHEN COALESCE(n_ref, 0) > 0 THEN CAST(floor(
                 ((CAST(COALESCE(n_cur, 0) AS DOUBLE)
                    - CAST(n_ref AS DOUBLE) * (CAST(nc AS DOUBLE) / CAST(nr AS DOUBLE)))
                  * (CAST(COALESCE(n_cur, 0) AS DOUBLE)
                    - CAST(n_ref AS DOUBLE) * (CAST(nc AS DOUBLE) / CAST(nr AS DOUBLE)))
                  / (CAST(n_ref AS DOUBLE) * (CAST(nc AS DOUBLE) / CAST(nr AS DOUBLE))))
                 * 1e6 + 0.5) AS BIGINT) END AS chi2_q6
        FROM ref FULL OUTER JOIN cur USING (bucket_lo)
        CROSS JOIN totals
    """


def length_histogram_oracle(bucket_chars: int = 50) -> str:
    return f"""
        SELECT CAST((n_chars // {bucket_chars}) * {bucket_chars} AS BIGINT)
                 AS bucket_lo,
               COUNT(*) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY 1
    """


# --- DuckDB oracle templates (same definitions, SQL dialect) ----------------


def _duck_ngrams(n: int) -> str:
    """List comprehension over 1-based inclusive slices: w[i:i+(n-1)] is n
    tokens; i ranges 1 .. len(w)-(n-1)."""
    return (
        f"[array_to_string(w[i:i+{n - 1}], ' ') FOR i IN range(1, len(w) - {n - 2})]"
    )


_DUCK_W = "regexp_split_to_array(trim(text), '\\s+')"


def _duck_gram_rows(n: int, where: str = "", src: str = "documents") -> str:
    return f"""
        SELECT doc_id, unnest({_duck_ngrams(n)}) AS g
        FROM (SELECT doc_id, {_DUCK_W} AS w FROM {src} {where})
        WHERE len(w) >= {n}
    """


def decontamination_oracle(n: int, bench_mod: int) -> str:
    return f"""
        WITH grams AS ({_duck_gram_rows(n)}),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {bench_mod} = 0),
        corpus AS (SELECT * FROM grams WHERE doc_id % {bench_mod} <> 0)
        SELECT corpus.doc_id, COUNT(DISTINCT corpus.g) AS n_contaminated
        FROM corpus JOIN bench USING (g)
        GROUP BY corpus.doc_id
    """


def shared_spans_oracle(n: int, min_docs: int) -> str:
    return f"""
        SELECT g AS span, COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences
        FROM ({_duck_gram_rows(n)})
        GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    """


def repetition_oracle(n: int) -> str:
    return f"""
        SELECT doc_id, COUNT(*) AS n_ngrams, COUNT(DISTINCT g) AS n_distinct,
               1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS rep_ratio
        FROM ({_duck_gram_rows(n)})
        GROUP BY doc_id
    """


def redaction_oracle(pattern: str, replacement: str) -> str:
    return f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{pattern}')) AS INTEGER)
                 AS n_redactions,
               md5(regexp_replace(text, '{pattern}', '{replacement}', 'g'))
                 AS redacted_fp
        FROM documents
    """


_DUCK_BUCKET = (
    "(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 10000)"
)


def stratified_sample_oracle(fractions: dict[str, float], buckets: int = 10_000) -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(f * buckets)}"
        for s, f in sorted(fractions.items())
    )
    return f"""
        SELECT doc_id, lang
        FROM documents
        WHERE {_DUCK_BUCKET} < (CASE {cases} ELSE -1 END)
    """


def shard_stats_oracle(n_shards: int) -> str:
    ntok = (
        "CAST(CASE WHEN len(trim(text)) = 0 THEN 0"
        f" ELSE len({_DUCK_W}) END AS INTEGER)"
    )
    return f"""
        SELECT CAST({_DUCK_BUCKET} % {n_shards} AS INTEGER) AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM({ntok}) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1
    """


_DUCK_NTOK_D = (
    "CAST(CASE WHEN len(trim(text)) = 0 THEN 0"
    f" ELSE len({_DUCK_W}) END AS DOUBLE)"
)
_DUCK_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

GOPHER_ORACLE = f"""
    SELECT doc_id,
           nt >= 15 AS r_min_tokens,
           nt <= 400 AS r_max_tokens,
           mwl >= 2.0 AND mwl <= 10.0 AS r_word_len,
           alpha >= 0.6 AS r_alpha,
           s_en >= 1 AS r_stopword,
           (nt >= 15 AND nt <= 400 AND mwl >= 2.0 AND mwl <= 10.0
            AND alpha >= 0.6 AND s_en >= 1) AS passes
    FROM (
      SELECT doc_id, {_DUCK_NTOK_D} AS nt,
             CAST(len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
               / greatest({_DUCK_NTOK_D}, 1.0) AS mwl,
             CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / CAST(greatest(len(text), 1) AS DOUBLE) AS alpha,
             len(list_distinct(list_intersect({_DUCK_W}, [{_DUCK_EN}]))) AS s_en
      FROM documents
    )
"""


def curated_corpus(
    documents: DataFrame,
    bench_mod: int = 7,
    n: int = 8,
    pattern: str = r"\b(customer|secret|merge)\b",
    replacement: str = "[REDACTED]",
    n_shards: int = 8,
) -> DataFrame:
    """END-TO-END curation pipeline — the operators composed the way a real
    pretraining ingest runs them, as ONE lazily-planned relation:

    exact dedup (keep min-id per content) → benchmark decontamination
    (drop docs sharing any word n-gram with the holdout) → Gopher rule
    filter → PII/blocklist redaction → deterministic shard assignment.

    Output: (doc_id, shard, redacted_fp, n_chars) for every surviving doc.
    Composition stays one Catalyst plan: dedup is one hash-agg + join on the
    content hash, decontamination joins the broadcast benchmark gram set,
    the rule filter and redaction are projections, sharding is the portable
    md5 bucket — so Catalyst prunes/pushes across stage boundaries instead
    of materializing intermediates.
    """
    did = F.col("doc_id")
    corpus = documents.filter(did % bench_mod != 0)
    benchmark = documents.filter(did % bench_mod == 0)
    keepers = corpus.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min("doc_id").alias("__keep")
    )
    dd = (
        corpus.withColumn("__h", F.md5(F.col("text")))
        .join(keepers, "__h")
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__h", "__keep")
    )
    contaminated = decontaminate(dd, benchmark, n=n).select("doc_id")
    clean = dd.join(contaminated, "doc_id", "left_anti")
    passing = gopher_flags(clean).filter("passes").select("doc_id")
    return clean.join(passing, "doc_id", "left_semi").select(
        "doc_id",
        (_hash_bucket(did) % n_shards).cast("int").alias("shard"),
        F.md5(regex_redact(F.col("text"), pattern, replacement)).alias("redacted_fp"),
        "n_chars",
    )


def curated_corpus_oracle(
    bench_mod: int = 7,
    n: int = 8,
    pattern: str = r"\b(customer|secret|merge)\b",
    replacement: str = "[REDACTED]",
    n_shards: int = 8,
) -> str:
    """Same composition assembled from the per-stage oracle fragments."""
    return f"""
        WITH corpus AS (SELECT * FROM documents WHERE doc_id % {bench_mod} <> 0),
        keepers AS (
          SELECT md5(text) AS h, MIN(doc_id) AS keep FROM corpus GROUP BY 1
        ),
        dd AS (
          SELECT c.* FROM corpus c
          JOIN keepers k ON md5(c.text) = k.h AND c.doc_id = k.keep
        ),
        ddg AS ({_duck_gram_rows(n, src="dd")}),
        bg AS (
          SELECT DISTINCT g
          FROM ({_duck_gram_rows(n, where=f"WHERE doc_id % {bench_mod} = 0")})
        ),
        cont AS (SELECT DISTINCT ddg.doc_id FROM ddg JOIN bg USING (g)),
        clean AS (
          SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        ),
        passing AS (
          SELECT doc_id FROM (
            SELECT doc_id, {_DUCK_NTOK_D} AS nt,
                   CAST(len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                     / greatest({_DUCK_NTOK_D}, 1.0) AS mwl,
                   CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / CAST(greatest(len(text), 1) AS DOUBLE) AS alpha,
                   len(list_distinct(list_intersect({_DUCK_W}, [{_DUCK_EN}]))) AS s_en
            FROM clean
          ) WHERE nt >= 15 AND nt <= 400 AND mwl >= 2.0 AND mwl <= 10.0
                AND alpha >= 0.6 AND s_en >= 1
        )
        SELECT c.doc_id,
               CAST({_DUCK_BUCKET} % {n_shards} AS INTEGER) AS shard,
               md5(regexp_replace(c.text, '{pattern}', '{replacement}', 'g'))
                 AS redacted_fp,
               c.n_chars
        FROM clean c JOIN passing USING (doc_id)
    """


def training_shards(
    documents: DataFrame,
    bench_mod: int = 7,
    n: int = 8,
    pattern: str = r"\b(customer|secret|merge)\b",
    target_total: int = 250,
    ctx_len: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """The FULL raw-crawl → training-shards pipeline, composed end to end:

    curated_corpus (exact dedup → decontamination → Gopher filter →
    redaction) → temperature_mix (alpha=0.5 domain rebalance) →
    pack_sequences (per-shard context-window packing).

    One lazily-planned relation: the curation stages collapse into the
    corpus scan, the mix is a broadcast-threshold filter, and packing adds
    the single per-shard running-sum window — Catalyst prunes and pushes
    across every stage boundary. Output: pack_sequences' doc → context-
    window map over the curated, rebalanced corpus.
    """
    survivors = curated_corpus(
        documents, bench_mod=bench_mod, n=n, pattern=pattern
    ).select("doc_id")
    rows = documents.join(survivors, "doc_id", "left_semi")
    mixed = temperature_mix(rows, target_total=target_total)
    return pack_sequences(mixed, ctx_len=ctx_len, n_shards=n_shards)


def training_shards_oracle(
    bench_mod: int = 7,
    n: int = 8,
    pattern: str = r"\b(customer|secret|merge)\b",
    target_total: int = 250,
    ctx_len: int = 256,
    n_shards: int = 8,
) -> str:
    """Composed from the per-stage oracle fragments (outer CTEs are in
    scope inside the packed subquery's own WITH)."""
    mix_sql = temperature_mix_oracle(target_total=target_total, source="base")
    pack_sql = pack_sequences_oracle(
        ctx_len,
        n_shards,
        source="(SELECT d2.* FROM documents d2 JOIN mix USING (doc_id))",
    )
    return f"""
        WITH curated AS ({curated_corpus_oracle(bench_mod=bench_mod, n=n, pattern=pattern)}),
        base AS (
          SELECT d.* FROM documents d
          WHERE d.doc_id IN (SELECT doc_id FROM curated)
        ),
        mix AS ({mix_sql})
        SELECT * FROM ({pack_sql})
    """


def systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: systematic
    (cumulative-weight stride) selection of <= ``k`` rows with inclusion
    probability proportional to weight — the engine-portable alternative
    to priority sampling (md5^(1/w)), whose ``pow`` is not exactly
    rounded across engines and so can never hash-match.

    Rows are laid on the cumulative-weight line in portable md5-of-key
    order (deterministic, uncorrelated with any data attribute); a row is
    selected iff its weight interval (cum-w, cum] covers a stride
    boundary: ``(cum*k) div W > ((cum-w)*k) div W`` — pure BIGINT
    arithmetic. Heavy rows (w >= W/k) are ALWAYS selected, the classic
    size-biased guarantee; rows covering multiple strides count once
    (output then has < k rows). Overflow bound: W*k < 2^63.

    Scale shape: the global prefix sum runs as the standard TWO-PHASE
    distributed cumsum — a per-bucket window (256 md5-prefix buckets
    partition the hash line) plus a bucket-offset relation of 256 rows
    broadcast back. No single-partition pass ever touches row data; the
    md5 prefix IS the sort prefix, so bucket-local order + bucket offsets
    reproduce the exact single-line cumsum (what the DuckDB twin
    computes directly). Weights must be non-negative; NULL weights never
    select.
    """
    from pyspark.sql import Window

    t = df.withColumn("__h", F.md5(F.col(key_col).cast("string"))).withColumn(
        "__w", F.col(weight_col).cast("long")
    )
    t = t.withColumn("__b", F.substring("__h", 1, 2))
    w_in = (
        Window.partitionBy("__b")
        .orderBy("__h", key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn("__cum_in", F.sum("__w").over(w_in))
    bt = t.groupBy("__b").agg(F.sum("__w").alias("__bw"))
    # 256-row relation: the only single-partition window, bucket-count
    # sized (never row-count sized)
    w_off = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bt.select(
        "__b", F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off")
    )
    tot = bt.agg(F.sum("__bw").alias("__tot"))
    sel = (
        t.join(F.broadcast(offs), "__b")
        .crossJoin(F.broadcast(tot))
        .withColumn("__cum", F.col("__off") + F.col("__cum_in"))
        .filter(
            # CASE WHEN guards evaluation (& does NOT short-circuit in
            # Spark SQL): an all-zero-weight input selects nothing instead
            # of raising ANSI division-by-zero
            F.when(
                F.col("__tot") > 0,
                F.expr(f"(__cum * {k}) div __tot")
                > F.expr(f"((__cum - __w) * {k}) div __tot"),
            ).otherwise(F.lit(False))
        )
    )
    return sel.drop("__h", "__w", "__b", "__cum_in", "__off", "__tot", "__cum")


def systematic_sample_oracle(
    k: int,
    weight_expr: str = "n_chars",
    select_cols: str = "doc_id, lang, n_chars",
) -> str:
    """DuckDB twin of ``systematic_sample`` — the direct single-line
    cumulative sum (same order key: md5 hex, then doc_id)."""
    return f"""
        WITH t AS (
          SELECT {select_cols}, CAST({weight_expr} AS BIGINT) AS w,
                 md5(CAST(doc_id AS VARCHAR)) AS h, doc_id AS kk
          FROM documents
        ), c AS (
          SELECT *,
                 CAST(SUM(w) OVER (ORDER BY h, kk
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(SUM(w) OVER () AS BIGINT) AS tot
          FROM t
        )
        SELECT {select_cols} FROM c
        WHERE (cum * {k}) // tot > ((cum - w) * {k}) // tot
    """


def dsir_weights(
    documents: DataFrame,
    target_pred: Column,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document by
    how target-like its HASHED token-feature distribution is, so a small
    curated target set can steer selection over a web-scale raw corpus.

    Features are normalized whitespace tokens hashed into ``n_buckets``
    portable md5 buckets (the fixed-width trick that makes the bag-of-ngrams
    model corpus-size-independent). Per document the weight is the
    log-likelihood ratio of target vs raw bucket unigram models,

        dsir_bits = sum over tokens of  [ flog2(ct(b)+1) - flog2(cr(b)+1) ]

    with ``flog2 = length(bin(x)) - 1`` — the repo's integer log2
    quantization, exact and identical across engines (libm-free). Add-one
    smoothing keeps unseen-in-target buckets finite; the per-token constant
    ``log(Tr/Tt)`` is rank-irrelevant at fixed length and omitted, so use
    ``avg_logratio_bits`` (length-invariant) to rank. Output:
    ``(id, n_tokens, dsir_bits, avg_logratio_bits)``.

    Scale: one explode, one (doc, bucket) aggregation — the model relations
    are ``n_buckets`` rows, always broadcastable; the aggregated per-doc
    bucket relation is localCheckpoint-ed (it feeds both model derivations
    and the scoring join). Nothing driver-side; raw corpus size only enters
    through the one explode shuffle.
    """
    from flink_example_spark.operators.text import normalized, tokens

    toks = documents.select(
        F.col(id_col),
        target_pred.alias("__t"),
        F.explode(tokens(normalized(F.col(text_col)))).alias("__tok"),
    ).filter(F.col("__tok") != "")
    b = (
        F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("bigint") % n_buckets
    ).alias("__b")
    dtf = (
        toks.select(F.col(id_col), "__t", b)
        .groupBy(id_col, "__t", "__b")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    ct = dtf.filter(F.col("__t")).groupBy("__b").agg(F.sum("tf").alias("__ct"))
    cr = dtf.groupBy("__b").agg(F.sum("tf").alias("__cr"))

    def flog2(col: Column) -> Column:
        return F.length(F.bin(col)) - 1

    bits = flog2(F.coalesce(F.col("__ct"), F.lit(0)) + 1) - flog2(F.col("__cr") + 1)
    scored = (
        dtf.join(F.broadcast(ct), "__b", "left")
        .join(F.broadcast(cr), "__b")
        .select(F.col(id_col), "tf", bits.alias("__bits"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("__bits")).alias("dsir_bits"),
        (
            F.sum(F.col("tf") * F.col("__bits")).cast("double") / F.sum("tf")
        ).alias("avg_logratio_bits"),
    )


def dsir_oracle(target_expr: str = "lang = 'en'", n_buckets: int = 4096) -> str:
    """DuckDB twin of :func:`dsir_weights` (``target_expr`` over document
    columns mirrors the Spark ``target_pred``)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    return f"""
        WITH tok AS (
          SELECT doc_id, ({target_expr}) AS is_t,
                 CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                   % {n_buckets} AS b
          FROM (SELECT *, unnest(string_split_regex({_DUCK_NORM}, '\\s+')) AS t
                FROM documents)
          WHERE t <> ''
        ), dtf AS MATERIALIZED (
          SELECT doc_id, is_t, b, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, is_t, b
        ), ct AS (
          SELECT b, CAST(SUM(tf) AS BIGINT) AS c FROM dtf WHERE is_t GROUP BY b
        ), cr AS (
          SELECT b, CAST(SUM(tf) AS BIGINT) AS c FROM dtf GROUP BY b
        )
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * ((len(bin(COALESCE(ct.c, 0) + 1)) - 1)
                              - (len(bin(cr.c + 1)) - 1))) AS BIGINT) AS dsir_bits,
               CAST(CAST(SUM(tf * ((len(bin(COALESCE(ct.c, 0) + 1)) - 1)
                              - (len(bin(cr.c + 1)) - 1))) AS BIGINT) AS DOUBLE)
                 / SUM(tf) AS avg_logratio_bits
        FROM dtf LEFT JOIN ct USING (b) JOIN cr USING (b)
        GROUP BY doc_id
    """


def novelty_score(
    documents: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty — the memorization-risk / diversity
    metric (Lee et al.'s dedup rationale viewed per document): what
    fraction of a document's word n-grams appear in NO other document.
    A low-novelty document is mostly boilerplate the corpus already
    carries; a pipeline weighting toward novelty reduces verbatim
    memorization.

    One exploded n-gram pass computes per-gram document frequency; each
    document then scores by its DISTINCT grams' cross-document privacy:
    ``novel`` = grams with df == 1. ``novelty_ppm`` is the exact
    trunc-div ratio. Documents shorter than n words emit no row (no
    grams — the honest NULL, not a fake 100%).

    Output: ``(doc_id, n_grams, n_novel, novelty_ppm)``.

    Scale: the same one-shuffle n-gram aggregation as ``shared_spans``
    (the ``hashed=True`` 8-byte diet applies identically if vocabulary
    bytes ever dominate); the df relation joins back map-side after the
    gram-keyed aggregation.
    """
    g = exploded_word_ngrams(documents, id_col, text_col, n).select(
        id_col, "__g"
    ).distinct().localCheckpoint()  # df aggregation + per-doc join both read it
    df_rel = g.groupBy("__g").agg(F.count(F.lit(1)).alias("df"))
    return (
        g.join(df_rel, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("(n_novel * 1000000) div n_grams"))
    )


def novelty_score_oracle(n: int = 8) -> str:
    """DuckDB twin of :func:`novelty_score`."""
    return f"""
        WITH w AS (SELECT doc_id, {_DUCK_W} AS w FROM documents),
        grams AS MATERIALIZED (
          SELECT DISTINCT doc_id, unnest({_duck_ngrams(n)}) AS g
          FROM w WHERE len(w) >= {n}
        ),
        dfr AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY 1
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               (CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000) // CAST(COUNT(*) AS BIGINT) AS novelty_ppm
        FROM grams JOIN dfr USING (g)
        GROUP BY doc_id
    """


def proportional_stratified_sample(
    documents: DataFrame,
    stratum_col: str = "lang",
    rate_num: int = 1,
    rate_den: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-quota proportional stratified sampling — the mix-preserving subset (a
    plain hash sample preserves strata only in expectation; this one
    preserves them EXACTLY): each stratum contributes its exact quota
    ``floor(n_s * rate)`` of members, chosen as the smallest md5 hashes
    within the stratum (deterministic, uniform, no RNG — the
    cluster_balanced_sample device pointed at strata). Distinct from this
    module's fraction-dict ``stratified_sample`` (hash-threshold rates,
    exact only in expectation): this one hits each stratum's quota
    EXACTLY.

    Output per stratum: ``(stratum, n_total, n_sampled,
    sampled_id_sum)`` — the id checksum pins the exact selection.

    Scale: one per-stratum ranking window (WindowGroupLimit-friendly) +
    one rollup; rows shuffle once on the stratum.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = Window.partitionBy(stratum_col).orderBy("__h", id_col)
    wc = Window.partitionBy(stratum_col)
    ranked = (
        documents.select(F.col(stratum_col), F.col(id_col))
        .withColumn("__h", h)
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .withColumn("__quota", F.expr(f"(__n * {rate_num}) div {rate_den}"))
    )
    return (
        ranked.groupBy(stratum_col)
        .agg(
            F.max("__n").cast("long").alias("n_total"),
            F.sum((F.col("__rk") <= F.col("__quota")).cast("long")).alias(
                "n_sampled"
            ),
            F.sum(
                F.when(F.col("__rk") <= F.col("__quota"), F.col(id_col)).otherwise(0)
            ).cast("long").alias("sampled_id_sum"),
        )
    )


def proportional_stratified_sample_oracle(
    stratum_col: str = "lang",
    rate_num: int = 1,
    rate_den: int = 10,
) -> str:
    """DuckDB twin of :func:`proportional_stratified_sample`."""
    return f"""
        WITH ranked AS (
          SELECT {stratum_col} AS stratum, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY {stratum_col} ORDER BY
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT), doc_id) AS rk,
                 CAST(COUNT(*) OVER (PARTITION BY {stratum_col}) AS BIGINT)
                   AS n
          FROM documents
        )
        SELECT stratum AS {stratum_col},
               CAST(MAX(n) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rk <= (n * {rate_num}) // {rate_den}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN rk <= (n * {rate_num}) // {rate_den}
                    THEN doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
        FROM ranked GROUP BY 1
    """


def greedy_coverage(
    documents: DataFrame,
    k: int = 6,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """Greedy maximum-coverage data selection (facility location on the
    doc x n-gram bipartite set) — the classic submodular coreset picker
    for training-data curation: each round selects the document covering
    the most NOT-YET-covered distinct word n-grams, the (1 - 1/e)
    approximation to the NP-hard optimum. The diversity-first complement
    to score-based sampling: k rounds yield k documents that jointly
    span the corpus's surface forms.

    Mechanics (the BPE-style bounded iteration): per round, one
    broadcast anti-join of the corpus gram stream against the covered
    set (selected docs' grams only — k * per-doc grams, always tiny),
    one per-doc count, one ``orderBy().limit(1)`` top-1 (ONE collected
    row per round — the documented driver-held scalar exception). Docs
    whose grams are fully covered drop out of the aggregate; selection
    stops early when no positive gain remains. The covered total is the
    running gain sum (each gain counts new grams by construction).

    Output per round: ``(round, doc_id, gain, covered_total)``.

    Scale: corpus grams never shuffle for the anti-join (covered side
    broadcasts); the per-round aggregate is the only exchange. Rounds
    are k, a constant.

    k-BOUNDED CONTRACT: greedy max-coverage is inherently sequential,
    but the LAZY-SUBMODULAR batching below (ADVICE-r8/VERDICT-r10 task)
    cuts driver round-trips from ~2 per PICK to ~2 per distributed
    round while keeping the picks EXACT: each round collects the top
    ``batch`` candidates WITH their remaining gram sets (batch *
    per-doc grams — tiny), then greedily picks locally under the
    submodular certificate — a local pick is provably the global
    argmax while its exact marginal gain strictly exceeds the
    (batch+1)-th candidate's stale gain, because marginal gains only
    shrink as coverage grows. The first pick after a fresh round is
    unconditionally exact (stale == current for every candidate). The
    covered set lives on the driver (k * per-doc grams, bounded by the
    selection, never corpus-sized) and broadcasts into the anti-join.
    """
    spark = documents.sparkSession
    # spread both the gram transform (single-file scan rule) and the
    # cached relation every round re-scans (r14: build 2.4s -> 1.0s,
    # per-round collect 0.9s -> 0.6s)
    grams = (
        spread(exploded_word_ngrams(spread(documents, F.col(id_col)), id_col, text_col, n)
        .select(F.col(id_col).alias("d"), F.col("__g").alias("g"))
        .distinct(), "d")
        .persist()
    )
    grams.count()
    batch = max(4, min(k, 64))
    covered_set: set = set()
    rows: list[tuple[int, int, int, int]] = []
    total = 0
    n_dist_rounds = 0
    try:
        while len(rows) < k:
            n_dist_rounds += 1
            if covered_set:
                cov_df = local_df(spark, [(g,) for g in sorted(covered_set)], "g string")
                cand = grams.join(F.broadcast(cov_df), "g", "left_anti")
            else:
                cand = grams
            top = (
                cand.groupBy("d")
                .agg(F.count(F.lit(1)).alias("gain"))
                .orderBy(F.desc("gain"), "d")
                .limit(batch + 1)
                .collect()
            )
            if not top or top[0]["gain"] <= 0:
                break
            # stale upper bound for every NON-collected candidate
            bound = int(top[batch]["gain"]) if len(top) > batch else 0
            ids = [int(r["d"]) for r in top[:batch]]
            pool: dict[int, set] = {d: set() for d in ids}
            for rec in cand.filter(F.col("d").isin(ids)).collect():
                pool[int(rec["d"])].add(rec["g"])
            first = True
            while len(rows) < k and pool:
                # local argmax under the SAME (gain desc, d asc) order
                best_d = min(pool, key=lambda d: (-len(pool[d]), d))
                best_gain = len(pool[best_d])
                if best_gain <= 0:
                    break  # local gains spent; refresh or finish below
                # certificate: strictly beats every non-collected
                # candidate's upper bound (a TIE could hide a smaller id
                # outside the pool) — except the round's first pick,
                # where stale == exact for the whole pool and the local
                # argmax IS the global one
                if not first and best_gain <= bound:
                    break
                picked = pool.pop(best_d)
                total += best_gain
                rows.append((len(rows) + 1, best_d, best_gain, total))
                covered_set |= picked
                for d in pool:
                    pool[d] -= picked
                first = False
            if len(rows) >= k:
                break
            if bound <= 0:
                # the pool was exhaustive (no candidate exists beyond
                # it); local gains <= 0 means nothing remains globally
                break
    finally:
        grams.unpersist()
    # measurement hook (tests/probes): distributed rounds this call —
    # the lazy batch makes this ~k/batch, vs k for one-pick-per-round.
    # Reported through the caller-owned ``stats`` dict (no process-
    # global function attribute — it raced under concurrent callers).
    if stats is not None:
        stats["distributed_rounds"] = n_dist_rounds
    return local_df(spark, rows, "round long, doc_id long, gain long, covered_total long")


def greedy_coverage_oracle(k: int = 6, n: int = 3) -> str:
    """DuckDB twin of :func:`greedy_coverage` — the greedy rounds
    unrolled as a MATERIALIZED CTE chain (per-round CTEs feed two
    consumers; DESIGN.md inlining rule)."""
    parts = [
        f"""WITH grams AS MATERIALIZED (
          SELECT DISTINCT doc_id AS d, g FROM ({_duck_gram_rows(n)})
        )"""
    ]
    for r in range(1, k + 1):
        src = (
            "grams"
            if r == 1
            else f"(SELECT grams.* FROM grams ANTI JOIN cov{r - 1} USING (g))"
        )
        parts.append(f"""win{r} AS MATERIALIZED (
          SELECT d, CAST(COUNT(*) AS BIGINT) AS gain
          FROM {src} x GROUP BY d
          HAVING COUNT(*) > 0
          ORDER BY gain DESC, d LIMIT 1
        )""")
        prev = f"SELECT g FROM cov{r - 1} UNION " if r > 1 else ""
        parts.append(f"""cov{r} AS MATERIALIZED (
          {prev}SELECT DISTINCT g FROM grams
          WHERE d = (SELECT d FROM win{r})
        )""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, d AS doc_id, gain FROM win{r}"
        for r in range(1, k + 1)
    )
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT round, doc_id, gain,
               CAST(SUM(gain) OVER (ORDER BY round
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS covered_total
        FROM ({finals})"""
    )
