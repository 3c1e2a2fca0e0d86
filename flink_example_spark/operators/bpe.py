"""Distributed BPE tokenizer training — learn a merge table from the corpus.

Byte-pair encoding (Sennrich et al. 2016; the GPT-2/Llama tokenizer family):
start from characters, repeatedly (1) count adjacent symbol pairs across the
corpus, (2) merge the most frequent pair everywhere, greedily left-to-right
within each word. The learned artifact is the ordered MERGE TABLE.

Spark-first shape (mirrors the unrolled-Lloyd kmeans trainer,
operators/similarity.py):
- The corpus-sized work happens ONCE: a word-frequency aggregation. Every
  merge iteration then operates on the DISTINCT-WORD relation (vocabulary-
  sized — Heaps' law: ~1e6-1e7 rows even at 100 TB), weighted by word
  frequency. That relation is what iterates, never the corpus.
- Pair counting per iteration is explode(sequence)+element_at (whole-stage
  codegen) + one map-side-combined hash aggregation; the argmax is a
  TakeOrdered of ONE row. Only the k=n_merges winning pairs ever reach the
  driver (exactly like Lloyd's k centroids).
- The merge application is a per-word greedy left-to-right fold
  (``F.aggregate`` over the symbol array) — a tight interpreted loop over a
  small array on a vocabulary-sized relation (the measured fold-vs-codegen
  tradeoff in PERF.md's dot-product shootout). Each iteration's result is
  localCheckpoint-cut so the lineage doesn't nest n_merges aggregates deep.

Determinism / oracle: ties in pair counts break on (pair_count DESC, lhs,
rhs) — binary string order in both engines. The DuckDB twin unrolls every
iteration as CTEs; the greedy merge is an iterated leftmost replacement in a
recursive CTE, which equals the one-pass greedy fold because a merged symbol
is strictly longer than its parts (it can never CREATE a new occurrence to
its left).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_example_spark.operators.util import local_df

from flink_example_spark.operators.text import normalized, tokens


def _word_freqs(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        documents.select(F.explode(tokens(normalized(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(seqs: DataFrame) -> DataFrame:
    """(lhs, rhs, freq) rows of adjacent symbol pairs, one per occurrence —
    codegen explode(sequence)+element_at; the size guard also dodges Spark's
    descending sequence(a, b) when a > b."""
    toks = seqs.select(F.split("s", " ").alias("__t"), "freq").filter(
        F.size("__t") >= 2
    )
    return toks.select(
        "__t",
        "freq",
        F.explode(F.sequence(F.lit(1), F.size("__t") - 1)).alias("__i"),
    ).select(
        F.element_at("__t", F.col("__i")).alias("lhs"),
        F.element_at("__t", F.col("__i") + 1).alias("rhs"),
        "freq",
    )


def _merge_expr(a: str, b: str) -> F.Column:
    """Greedy left-to-right merge of (a, b) over the space-separated symbol
    string: fold the symbol array, replacing a trailing ``a`` when ``b``
    arrives. One pass, exact BPE apply semantics."""
    arr = F.split("s", " ")
    folded = F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.array_join(folded, " ")


def bpe_train(
    documents: DataFrame,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus. Output:
    ``(merge_rank, lhs, rhs, pair_count)`` — the ordered merge table, the
    artifact a tokenizer ships. Assumes the corpus supports at least
    ``n_merges`` distinct adjacent pairs (true for any real text corpus)."""
    spark = documents.sparkSession
    words = _word_freqs(documents, id_col, text_col)
    # initial symbol sequence: the word's characters, space-joined.
    # Per-round state uses persist() WITHOUT an eager materialization: the
    # round's top-pair aggregation fills the cache as a side effect, fusing
    # what used to be two jobs per merge (agg + eager localCheckpoint) into
    # one — measured 8.5s -> 3.7s for 8 merges at sf0.01 with identical
    # merge tables. The logical plan grows by one
    # interpreted merge-fold per round, but execution short-circuits at the
    # cached round, so only analysis cost grows (negligible through 8
    # rounds).
    seqs = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("s"), "freq"
    ).persist()
    merges: list[tuple[int, str, str, int]] = []
    prev = None
    for m in range(1, n_merges + 1):
        top = (
            _adjacent_pairs(seqs)
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        # seqs is now materialized (the collect filled its cache); only
        # NOW is its parent safe to drop — a one-round unpersist lag, so
        # no round ever computes against an evicted ancestor.
        if prev is not None:
            prev.unpersist()
        if not top:
            break
        a, b, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
        merges.append((m, a, b, int(cnt)))
        nxt = seqs.select(_merge_expr(a, b).alias("s"), "freq").persist()
        prev, seqs = seqs, nxt
    seqs.unpersist()
    return local_df(spark, merges, "merge_rank int, lhs string, rhs string, pair_count bigint")


def bpe_tokenize(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list to the corpus: per-document BPE token
    count and the space-joined symbol stream of each word re-aggregated.
    Output: ``(id, n_bpe_symbols)`` — the training-shard token counter a
    packing pipeline needs (cheap, fully distributed: the merge folds chain
    per word with no shuffle)."""
    words = documents.select(
        F.col(id_col),
        F.explode(tokens(normalized(F.col(text_col)))).alias("w"),
    ).filter(F.col("w") != "")
    s = F.trim(F.regexp_replace("w", "(.)", "$1 "))
    out = words.select(F.col(id_col), s.alias("s"))
    for a, b in merges:
        out = out.select(F.col(id_col), _merge_expr(a, b).alias("s"))
    return out.select(
        F.col(id_col), F.size(F.split("s", " ")).alias("__n")
    ).groupBy(id_col).agg(F.sum("__n").alias("n_bpe_symbols"))


def bpe_oracle(n_merges: int = 8) -> str:
    """DuckDB twin: the whole training loop unrolled as CTEs. The greedy
    merge is an iterated leftmost replacement (recursive CTE) — equivalent
    to the one-pass fold, see module docstring."""
    parts = [
        """seq0 AS MATERIALIZED (
          SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s,
                 CAST(COUNT(*) AS BIGINT) AS freq
          FROM (
            SELECT unnest(string_split_regex(
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g')), '\\s+')) AS w
            FROM documents
          ) WHERE w <> '' GROUP BY w
        )"""
    ]
    for m in range(1, n_merges + 1):
        prev = f"seq{m - 1}"
        parts.append(
            f"""pairs{m} AS (
          SELECT unnest(list_slice(l, 1, len(l) - 1)) AS lhs,
                 unnest(list_slice(l, 2, len(l))) AS rhs, freq
          FROM (SELECT string_split(trim(s), ' ') AS l, freq FROM {prev})
          WHERE len(l) >= 2
        ), top{m} AS MATERIALIZED (
          SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
          FROM pairs{m} GROUP BY lhs, rhs
          ORDER BY pair_count DESC, lhs, rhs LIMIT 1
        ), it{m}(s, freq) AS (
          SELECT s, freq FROM {prev}
          UNION ALL
          SELECT substr(s, 1, position((' ' || t.lhs || ' ' || t.rhs || ' ') IN s) - 1)
                   || ' ' || t.lhs || t.rhs || ' '
                   || substr(s, position((' ' || t.lhs || ' ' || t.rhs || ' ') IN s)
                                + len(t.lhs) + len(t.rhs) + 3),
                 freq
          FROM it{m}, top{m} t
          WHERE position((' ' || t.lhs || ' ' || t.rhs || ' ') IN s) > 0
        ), seq{m} AS MATERIALIZED (
          SELECT s, freq FROM it{m}, top{m} t
          WHERE position((' ' || t.lhs || ' ' || t.rhs || ' ') IN s) = 0
        )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT {m} AS merge_rank, lhs, rhs, pair_count FROM top{m}"
        for m in range(1, n_merges + 1)
    )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH RECURSIVE {ctes}
        {union}
    """


def bpe_tokenize_oracle(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of ``bpe_tokenize`` for a FIXED merge list: the merge
    chain unrolls over the distinct-word relation (recursive leftmost
    replacement per merge, MATERIALIZED against CTE-inlining blowup), then
    joins back to the per-document word stream and sums symbol counts."""
    parts = [
        """w0 AS MATERIALIZED (
          SELECT DISTINCT w,
                 ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
          FROM (
            SELECT unnest(string_split_regex(
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g')), '\\s+')) AS w
            FROM documents
          ) WHERE w <> ''
        )"""
    ]
    for m, (a, b) in enumerate(merges, start=1):
        pat = f"' {a} {b} '"
        rep = f"' {a}{b} '"
        plen = len(a) + len(b) + 3
        parts.append(
            f"""it{m}(w, s) AS (
          SELECT w, s FROM w{m - 1}
          UNION ALL
          SELECT w, substr(s, 1, position({pat} IN s) - 1) || {rep}
                     || substr(s, position({pat} IN s) + {plen})
          FROM it{m} WHERE position({pat} IN s) > 0
        ), w{m} AS MATERIALIZED (
          SELECT w, s FROM it{m} WHERE position({pat} IN s) = 0
        )"""
        )
    last = f"w{len(merges)}"
    ctes = ",\n        ".join(parts)
    return f"""
        WITH RECURSIVE {ctes}
        SELECT doc_id,
               CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT)
                 AS n_bpe_symbols
        FROM (
          SELECT doc_id, unnest(string_split_regex(
            trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                ' +', ' ', 'g')), '\\s+')) AS w
          FROM documents
        ) tok JOIN {last} USING (w)
        WHERE w <> ''
        GROUP BY doc_id
    """
