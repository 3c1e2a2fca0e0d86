"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious and driver-loop-free:

- exact_dedup          hash groupBy on content (or its md5) — one shuffle
- ngram_jaccard_pairs  exact near-dup pairs via blocked brute force
- minhash_lsh_pairs    MinHash signatures + banded LSH candidate generation,
                       then exact-jaccard verification of candidates only
- simhash_pairs        64-bit SimHash + pigeonhole band join on 16-bit chunks,
                       hamming-distance verification via xor/bit_count

Scale notes (100 TB posture): exact dedup is a single hash aggregation;
LSH candidate generation shuffles on (band, band_hash) so only colliding
docs meet; verification joins fetch shingle sets for candidate pairs only.
The brute-force variant exists as the small-block/oracle path — its blocking
key keeps it O(block²), and the LSH path replaces it at scale.

Everything is Catalyst expressions (higher-order array functions + xxhash64);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window

from flink_example_spark.operators.util import local_df, spread
from pyspark.sql import functions as F


def apply_pair_dedup(
    documents: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a deduplicated corpus from near-dup pairs: drop every doc
    that appears as the GREATER id of a pair (keep-first heuristic; pairs
    are emitted with doc_a < doc_b). One anti-join, no driver loop.

    For cluster-canonical dedup (one representative per transitive duplicate
    cluster) compose with :func:`duplicate_clusters` instead.
    """
    drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return documents.join(F.broadcast(drop), id_col, "left_anti")


def apply_cluster_dedup(
    documents: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup materialization: one representative per duplicate
    cluster — the member with the HIGHEST ``quality_col`` (ties → lowest id,
    deterministic), instead of keep-first's arbitrary-id winner. The
    RefinedWeb/FineWeb-style policy: when near-dups differ (one has
    boilerplate, one is clean), keep the best copy, not the first one.

    ``clusters`` is :func:`duplicate_clusters` output (id, cluster_id).
    Docs in no cluster pass through untouched. One left join against the
    (small) clustered-doc relation + one per-cluster top-1 window over ONLY
    the clustered docs — the unclustered majority never enters the window.
    """
    ranked = (
        documents.join(F.broadcast(clusters), id_col)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col(quality_col).desc(), F.col(id_col)
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn", "cluster_id")
    )
    unclustered = documents.join(
        F.broadcast(clusters.select(id_col)), id_col, "left_anti"
    )
    return unclustered.unionByName(ranked)


def duplicate_clusters(
    pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 25
) -> DataFrame:
    """Connected components over near-dup pair edges: every doc in a pair
    gets ``cluster_id`` = the minimum doc id transitively reachable through
    duplicate relations (so A≈B, B≈C puts all three in one cluster even if
    A≈C was never emitted).

    Above the ``SPARK_GRAFT_CC_LOCAL_MAX`` size gate this is the alternating
    large-star / small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond"): each round is two groupBy+join passes over
    the edge set, and the edge set contracts toward star forests in O(log²)
    rounds regardless of component DIAMETER (plain min-label propagation
    needs diameter rounds — a 1M-long duplicate chain would need 1M rounds;
    stars collapse it in ~20). Nothing edge-sized ever reaches the driver,
    so it scales to any corpus. Below the gate a driver-side union-find over
    the same canonical edges returns identical labels.
    """

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; connect strictly-larger neighbors to the
        # neighborhood minimum
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # all neighbors in a directed (hi -> lo) edge list are smaller;
        # connect them (and hi itself) to the minimum
        mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
        relink = (
            e.join(mins, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        keep = mins.select("hi", F.col("m").alias("lo"))
        return relink.union(keep).distinct()

    def checksum(e: DataFrame):
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("x"),
        ).first()

    # canonical directed edges (hi > lo); pairs are emitted doc_a < doc_b
    e = (
        pairs.select(F.col("doc_b").alias("hi"), F.col("doc_a").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)  # auto-freed on GC (no persist leak)
    )
    # Scale-adaptive crossover (r14, guide SS1.2 "choose the algorithm"):
    # a driver-sized edge set pays ~6 jobs/round x O(log^2) rounds of star
    # contraction for milliseconds of union-find (entity rows: 51 stages,
    # ~5s wall at sf0.1 for a few hundred edges). Below the bound the
    # driver union-find returns BIT-identical min-id components (pinned:
    # tests/test_northstar.py::test_duplicate_clusters_local_gate); above
    # it the distributed path runs untouched — nothing edge-sized ever
    # reaches the driver at scale. The count is free (e is materialized).
    # Both paths need the distinct member set at the end, so it is
    # materialized here; the local path collects e + members (both
    # count-gated) — NEVER the raw pre-distinct `pairs`, whose row count
    # the edge gate does not bound (r15 fix).
    import os as _os

    members = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bound = int(_os.environ.get("SPARK_GRAFT_CC_LOCAL_MAX", "100000"))
    # members <= 2*edges + self-paired singletons; the 4x headroom keeps
    # singleton-heavy pair sets local without unbounding the collect
    if e.count() <= bound and members.count() <= 4 * bound:
        return _clusters_local(e, members, id_col)
    prev = checksum(e)
    converged = False
    for _ in range(max_iter):
        # localCheckpoint each round: truncates the growing iterative lineage
        # (without it the plan doubles per round and the optimizer dominates)
        e_prev, e_next = e, small_star(large_star(e)).localCheckpoint(eager=True)
        cur = checksum(e_next)
        e = e_next
        if cur == prev:
            # Checksum equality alone leaves a ~2^-64 collision window that
            # would return a non-fixpoint star forest. Confirm once: counts
            # already match (checksum embeds count), so one-directional
            # multiset difference emptiness proves the edge sets are equal.
            # Runs a single extra O(edges) pass only at convergence.
            if e_next.exceptAll(e_prev).isEmpty():
                converged = True
                break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    # e is now a star forest: (member -> component-min root). Roots map to
    # themselves via the left join + coalesce; members was materialized
    # at the gate above.
    stars = e.select(F.col("hi").alias(id_col), F.col("lo").alias("__root"))
    return members.join(stars, id_col, "left").select(
        F.col(id_col), F.coalesce("__root", F.col(id_col)).alias("cluster_id")
    )


def _clusters_local(e: DataFrame, members: DataFrame, id_col: str) -> DataFrame:
    """Driver-side union-find over the MATERIALIZED canonical edge set
    ``e`` (hi > lo, distinct — the relation the caller's size gate
    actually counted; the raw pair stream can be arbitrarily larger) and
    the materialized distinct member set."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in e.collect():
        a, b = find(r["hi"]), find(r["lo"])
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a
    member_ids = sorted(r[0] for r in members.collect())
    spark = e.sparkSession
    from pyspark.sql.types import StructField, StructType

    id_type = members.schema[id_col].dataType  # works for any id type
    schema = StructType([StructField(id_col, id_type), StructField("cluster_id", id_type)])
    return local_df(spark, [(m, find(m)) for m in member_ids], schema)


def exact_dedup(documents: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: the minimum id (deterministic keeper)
    and the copy count. Single hash-aggregate shuffle on the content hash."""
    return (
        documents.groupBy(F.md5(F.col(content_col)).alias("content_md5"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "content_md5", "n_copies")
    )


def paragraph_dedup(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Within-corpus paragraph-level dedup (C4-style line dedup): split each
    document on ``sep``, keep only the CANONICAL occurrence of every distinct
    paragraph — the (min doc id, min position) one — and reassemble the
    documents in original paragraph order.

    Output: (id_col, text_deduped, n_kept, n_removed); documents whose every
    paragraph was claimed elsewhere survive with ``text_deduped = ''``.

    Scale: the keeper relation (one row per DISTINCT paragraph) broadcasts
    while it fits, leaving one corpus shuffle into the keeper aggregation
    plus the doc-id reassembly exchange (audited plan: broadcast join, 2
    exchanges at sf0.01); past broadcast size it degrades to a shuffled
    equi-join on (kcode, hash) — still hash-partitioned, never all-pairs.
    The keeper is an arithmetic arg-min (id * 2^20 + pos), deterministic and
    reproducible by any SQL engine; positions must stay below 2^20
    paragraphs per document.
    """
    # null-text documents are dropped (they have no paragraphs to keep and
    # would otherwise surface as a null-count row)
    documents = documents.filter(F.col(text_col).isNotNull())
    parts = documents.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("__pos", "__para"),
    ).withColumn("__h", F.md5(F.col("__para")))
    code = F.col("__id") * (1 << 20) + F.col("__pos")
    keepers = parts.groupBy("__h").agg(F.min(code).alias("__kcode"))
    kept = parts.join(keepers, "__h").filter(code == F.col("__kcode"))
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # paragraph totals come from a plain projection over the input (no second
    # pass through the explode/join branch — multi-consumer DAGs recompute)
    totals = documents.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), sep, -1)).alias("__total"),
    )
    return (
        totals.join(reassembled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__total") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


# --- shingling ---------------------------------------------------------------


def _empty_str_array() -> Column:
    # built lazily: creating Columns needs an active SparkSession, and this
    # module must stay importable before one exists
    return F.array().cast("array<string>")


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct lowercase character k-grams (SQL substr is 1-based); empty
    array for texts shorter than k. The guard matters: Spark's
    ``sequence(a, b)`` DESCENDS when a > b, so an unguarded ``sequence(1,
    len-k+1)`` on short text yields [1, 0] and a bogus whole-text shingle."""
    t = F.lower(text)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.char_length(t) - (k - 1)),
            lambda i: F.substr(t, i, F.lit(k)),
        )
    )
    return F.when(F.char_length(t) >= k, grams).otherwise(_empty_str_array())


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams over whitespace tokens; empty array for texts
    with fewer than n tokens (same descending-sequence hazard as above —
    unguarded, element_at would index out of bounds under ANSI mode)."""
    w = F.split(F.trim(text), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j + 1) for j in range(n)]
            ),
        )
    )
    return F.when(F.size(w) >= n, grams).otherwise(_empty_str_array())


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b)).cast(
        "double"
    )


# --- exact near-dup pairs (blocked brute force) ------------------------------


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    block_col: str | None = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs >= threshold.

    Brute force within blocks (O(block²) candidate pairs) — correct and
    simple; use minhash_lsh_pairs when blocks are large.
    """
    g = (
        spread(documents, F.col(id_col))  # parallelize the gram transform
        .select(
            F.col(id_col),
            *([F.col(block_col)] if block_col else []),
            word_ngrams(F.col(text_col), n).alias("__g"),
        )
        .filter(F.size("__g") > 0)
        # localCheckpoint, not persist(): both sides of the self-join read it,
        # and the checkpoint blocks are auto-freed by the ContextCleaner when
        # the result DataFrame is garbage-collected — persist() would leak
        # cached partitions across repeated calls in a long-lived session.
        .localCheckpoint(eager=False)
    )
    a = g.alias("a")
    b = g.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            jaccard(F.col("a.__g"), F.col("b.__g")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH ------------------------------------------------------------


def exploded_char_shingles(
    documents: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(id, shingle) rows via explode(sequence) + substr — whole-stage
    codegen end to end. Building shingle *arrays* with higher-order
    transform() was measured at ~48ms/doc (interpreted, per-element Column
    eval); this row form is ~30x faster and feeds the signature aggregation
    directly."""
    t = F.lower(F.col(text_col))
    return (
        documents.select(F.col(id_col), t.alias("__t"))
        .filter(F.char_length("__t") >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.char_length("__t") - (k - 1))).alias("__i"),
            F.col("__t"),
        )
        # No distinct() — min(hash) over a multiset equals min over the set,
        # so MinHash signatures don't need the dedup shuffle. Exact
        # verification builds distinct sets separately (char_shingles).
        .select(F.col(id_col), F.substr("__t", F.col("__i"), F.lit(k)).alias("__s"))
    )


def minhash_signature_agg(
    shingle_rows: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """MinHash signatures from (id, __s) shingle rows — a single codegen
    hash-aggregate with map-side partial mins.

    Permutation family: hash the shingle ONCE (variable-length string), then
    derive the i-th permutation as ``xxhash64(base, i)`` over the fixed-size
    longs — re-hashing the string per permutation costs ~2x the whole
    aggregation, and hashing the *pair* (rather than ``base + i``) cannot
    overflow under ANSI mode when base lands near Long.MAX.
    Output: id_col + columns __h0..__h{num_hashes-1}."""
    based = shingle_rows.select(F.col(id_col), F.xxhash64("__s").alias("__base"))
    return based.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__base"), F.lit(i))).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact verification.

    1. char-k shingles → num_hashes MinHash signature
    2. split signature into ``bands`` bands, hash each band
    3. shuffle on (band_idx, band_hash): docs colliding in ANY band are
       candidates (recall for j>=0.8 with 16x4: 1-(1-j^4)^16 ≈ 1-2e-4)
    4. verify candidates with exact shingle Jaccard >= threshold

    Output equals the brute-force pairs up to LSH recall — at the observed
    duplicate structure (j≈0.99 vs next 0.30) recall is ~1-1e-22, so the
    exact brute-force SQL is a valid oracle.
    """
    rows = num_hashes // bands
    # Repartition before the CPU-heavy hashing; single-file inputs otherwise
    # scan as ONE partition. Signatures are reused by banding and the
    # estimate prefilter → persist.
    shingle_rows = exploded_char_shingles(
        spread(documents, F.col(id_col)), id_col, text_col, shingle_k
    )
    # Pack the signature into one array column: narrows the join plans
    # (1 column vs num_hashes) — measured ~3x faster estimate joins.
    sig = (
        minhash_signature_agg(shingle_rows, id_col, num_hashes)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("__sig"),
        )
        .persist()
    )
    sig.count()  # materialize before both banded sides read it
    # Carry the packed signature THROUGH the band join: the self-join then
    # computes the estimate inline, with no extra signature joins and no
    # intermediate materialization (removed two broadcast joins + one job).
    banded = sig.select(
        id_col,
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("__sig", bi * rows + j + 1)
                                for j in range(rows)
                            ]
                        ).alias("bhash"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("__b"),
    ).select(id_col, "__sig", "__b.band", "__b.bhash")
    a, b = banded.alias("a"), banded.alias("b")
    # Cheap prefilter: estimated jaccard = fraction of agreeing signature
    # slots. Corpora with high background similarity (here ~0.5) make banding
    # collide on huge numbers of non-duplicate pairs; num_hashes long
    # comparisons per candidate cut them before the expensive exact set
    # intersection. P(est < thr-0.15 | true j >= thr) ≈ 1e-3 at n=64.
    # A pair colliding in m bands is evaluated m times; dedup happens on the
    # tiny estimate-surviving output, not the full candidate stream.
    est_threshold = max(threshold - 0.15, 0.0)
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.__sig"), F.col("b.__sig"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.lit(float(num_hashes))
    survivors = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(est >= est_threshold)
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        # Materialize the (tiny) survivor set once: it feeds three consumers
        # below, and without a hard cut the banding + estimate joins would be
        # recomputed per consumer (measured 3-4x the whole pipeline cost).
        # localCheckpoint (vs persist) so the blocks are auto-freed when the
        # result DataFrame is garbage-collected — no session-lifetime leak.
        .localCheckpoint(eager=True)
    )
    # Signatures are no longer needed past this point — release the cache.
    sig.unpersist()
    # Exact verification only for survivors: build shingle sets just for the
    # (few) docs involved, then exact jaccard.
    involved = (
        survivors.select(F.col("doc_a").alias(id_col))
        .union(survivors.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh_sets = (
        documents.join(F.broadcast(involved), id_col)
        .select(F.col(id_col), char_shingles(F.col(text_col), shingle_k).alias("__sh"))
        # both broadcast sides read this involved-sized relation; without a
        # cut each broadcast build re-runs the shingle-set construction
        # (multi-consumer recompute rule — r15, ~1s at sf0.1)
        .localCheckpoint(eager=False)
    )
    sh_a = sh_sets.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sha"))
    sh_b = sh_sets.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__shb"))
    return (
        survivors.join(F.broadcast(sh_a), "doc_a")
        .join(F.broadcast(sh_b), "doc_b")
        .select("doc_a", "doc_b", jaccard(F.col("__sha"), F.col("__shb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- SimHash ------------------------------------------------------------------


def simhash64_agg(
    tokenized: DataFrame, id_col: str, tokens_col: str, token_hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash via explode + hash aggregation (whole-stage codegen):
    per bit k, sum +1/-1 according to bit k of each token's hash, then
    collapse the 64 signs into one long. Output: id_col, __sim.

    ``token_hash``: "xxhash64" (fast JVM path, default) or "md5" — the 64
    bits are the first 16 hex digits of md5(token), 4 bits per digit. md5 is
    reproducible by any SQL engine (DuckDB, Trino, Postgres), which makes the
    simhash oracle-checkable cross-engine; xxhash64 is Spark-only.
    """
    from functools import reduce

    tok = tokenized.select(F.col(id_col), F.explode(tokens_col).alias("__t"))
    if token_hash == "md5":
        # Two 32-bit words from the first 16 hex digits of md5(token): same
        # aggregate shape as the xxhash64 path (shift/and on integer cols).
        hashed = tok.select(id_col, F.md5("__t").alias("__h")).select(
            id_col,
            F.conv(F.substring("__h", 1, 8), 16, 10).cast("long").alias("__w0"),
            F.conv(F.substring("__h", 9, 8), 16, 10).cast("long").alias("__w1"),
        )

        def bit(k: int):
            return (
                F.shiftright("__w0" if k < 32 else "__w1", k % 32)
                .bitwiseAND(F.lit(1))
                == 1
            )

    else:
        hashed = tok.select(id_col, F.xxhash64("__t").alias("__th"))

        def bit(k: int):
            return F.shiftright("__th", k).bitwiseAND(F.lit(1)) == 1

    # (A count-weighted two-stage variant — fold duplicate tokens, then
    # weight the bit sums — measured SLOWER here: the extra exchange costs
    # more than the map-side partial aggregation saves.)
    counters = hashed.groupBy(id_col).agg(
        *[F.sum(F.when(bit(k), 1).otherwise(-1)).alias(f"__b{k}") for k in range(64)]
    )
    bits = [
        F.when(
            F.col(f"__b{k}") > 0, F.shiftleft(F.lit(1).cast("long"), k)
        ).otherwise(F.lit(0).cast("long"))
        for k in range(64)
    ]
    word = reduce(lambda x, y: x.bitwiseOR(y), bits)
    return counters.select(F.col(id_col), word.alias("__sim"))


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: with 4 chunks of 16 bits, any pair within hamming 3
    agrees on at least one chunk — join on chunk equality, verify with
    bit_count(xor). Exact w.r.t. the simhash (banding loses nothing here).

    ``token_hash="md5"`` makes the simhash cross-engine reproducible (see
    simhash64_agg) at ~2x the hashing cost — use it for oracle checks;
    the xxhash64 default is the production fast path.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    sh = simhash64_agg(
        spread(documents, F.col(id_col)).select(F.col(id_col), w.alias("__tok")),
        id_col,
        "__tok",
        token_hash=token_hash,
    )
    chunks = sh.select(
        id_col,
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("__sim", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "__sim", "__c.chunk", "__c.cval")
    # Materialize the banded signatures once: the self-join otherwise
    # recomputes the 64-sum simhash aggregation on BOTH sides (multi-
    # consumer DAG recompute). Measured at sf0.1, alternating runs:
    # 3.7-4.1s -> 3.0-3.4s.
    chunks = chunks.localCheckpoint(eager=True)
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def fuzzy_word_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
    max_dist: int = 1,
) -> DataFrame:
    """Typo-cluster mining: pairs of distinct corpus WORDS within edit
    distance 1 — the vocabulary-cleaning pass (OCR noise, misspellings)
    a corpus pipeline runs before frequency-based filtering.

    Scale path is the SymSpell deletion-neighborhood join, not brute force:
    every word emits itself plus each delete-one-character variant, and two
    words are candidates iff they share a variant. For edit distance 1 this
    has PERFECT recall (substitution at position i -> deleting i from both
    yields the same string; insertion -> deleting the inserted char yields
    the other word), so the levenshtein verify only trims same-variant
    non-neighbors — the result EQUALS brute force, at
    O(vocab x avg_len) candidate keys instead of O(vocab^2) pairs. Variant
    generation is codegen explode(sequence)+substring concat.

    ``max_dist=2`` applies the SAME delete-one expansion twice (a deletion
    of a deletion enumerates every <=2-deletion variant): an alignment
    argument gives each of <=2 edit ops at most one deletion per side, so
    recall stays perfect and the result still equals brute force, at
    O(vocab x len^2) candidate keys.

    Output: (word_a, word_b, dist, count_a, count_b), word_a < word_b.
    Both engines' levenshtein is the classic integer DP — deterministic.
    """
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2")
    from flink_example_spark.operators.text import normalized, tokens

    vocab = (
        documents.select(F.explode(tokens(normalized(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
    )
    def expand(df: DataFrame, col: str) -> DataFrame:
        # each row -> itself plus every delete-one-character variant
        return df.select(
            *[c for c in df.columns if c != col],
            F.explode(
                F.concat(
                    F.array(F.col(col)),
                    F.transform(
                        F.sequence(F.lit(1), F.length(col)),
                        lambda i: F.concat(
                            F.col(col).substr(F.lit(1), i - 1),
                            F.col(col).substr(i + 1, F.length(col)),
                        ),
                    ),
                )
            ).alias(col),
        )

    variants = expand(vocab.select("w", F.col("w").alias("__v")), "__v")
    for _ in range(max_dist - 1):
        variants = expand(variants, "__v")
    variants = variants.dropDuplicates(["w", "__v"])
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("a.__v") == F.col("b.__v")) & (F.col("a.w") < F.col("b.w")))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .dropDuplicates(["word_a", "word_b"])
    )
    verified = cand.filter(F.levenshtein("word_a", "word_b") <= max_dist).withColumn(
        "dist", F.levenshtein("word_a", "word_b").cast("int")
    )
    return (
        verified.join(
            vocab.select(F.col("w").alias("word_a"), F.col("c").alias("count_a")),
            "word_a",
        )
        .join(
            vocab.select(F.col("w").alias("word_b"), F.col("c").alias("count_b")),
            "word_b",
        )
        .select("word_a", "word_b", "dist", "count_a", "count_b")
    )


def fuzzy_word_pairs_oracle(
    min_count: int = 1, source: str = "documents", max_dist: int = 1
) -> str:
    """Brute-force DuckDB twin (exact, because the deletion-neighborhood
    join has perfect recall at distance 1 — see operator docstring).
    ``source``: relation (or parenthesized subquery) with a ``text``
    column."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
        " ' +', ' ', 'g'))"
    )
    return f"""
        WITH vocab AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split_regex({norm}, '\\s+')) AS w FROM {source}
          ) WHERE w <> '' GROUP BY w HAVING COUNT(*) >= {min_count}
        )
        SELECT a.w AS word_a, b.w AS word_b,
               CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist,
               a.c AS count_a, b.c AS count_b
        FROM vocab a JOIN vocab b
          ON a.w < b.w AND abs(len(a.w) - len(b.w)) <= {max_dist}
        WHERE levenshtein(a.w, b.w) <= {max_dist}
    """


# --- engine-portable MinHash (streaming-friendly band-level dedup) ---------

MINHASH_P = 2147483647  # Mersenne prime 2^31-1: universal-hash modulus


def _portable_perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multiply-shift coefficients for the i-th MinHash
    permutation, derived from md5 of a fixed tag — generated ONCE in Python
    and embedded as integer literals in both the Spark plan and the DuckDB
    oracle, so the permutation family itself is engine-portable (unlike the
    xxhash64 family in ``minhash_signature_agg``, which is Spark-only and
    therefore oracle-checked via brute-force Jaccard instead)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()
        out.append(((int(d[:8], 16) % (MINHASH_P - 1)) + 1, int(d[8:16], 16) % MINHASH_P))
    return out


def minhash_portable_bands(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, band, key) LSH band rows from an engine-portable MinHash.

    Base hash = the repo's md5 bucket over char-k shingles; permutation i =
    ``(a_i * base + b_i) mod (2^31-1)`` — pure BIGINT arithmetic (products
    < 2^63, ANSI-safe), so the signature computation is ONE codegen
    hash-aggregate with map-side partial mins and zero string re-hashing.
    Band key = '_'-joined row values (string equi-join key in any engine).
    """
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    r = num_hashes // bands
    cs = _portable_perm_coeffs(num_hashes)
    from flink_example_spark.operators.sketch import portable_hash32

    sh = exploded_char_shingles(documents, id_col, text_col, k=shingle_k)
    sig = (
        sh.select(F.col(id_col), portable_hash32(F.col("__s")).alias("__b"))
        .groupBy(id_col)
        .agg(
            *[
                F.min((F.lit(a) * F.col("__b") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                    f"__h{i}"
                )
                for i, (a, b) in enumerate(cs)
            ]
        )
    )
    stack = ", ".join(
        f"{b}, concat_ws('_', {', '.join(f'__h{b * r + j}' for j in range(r))})"
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"stack({bands}, {stack}) AS (band, key)")
    )


def minhash_portable_keep(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    band_rows: DataFrame | None = None,
    bucket_minima: DataFrame | None = None,
) -> DataFrame:
    """Keep-first dedup at BAND-COLLISION granularity: a document survives
    iff it is the smallest id in EVERY band bucket it occupies (docs too
    short to shingle survive trivially). This is the spec an incremental /
    streaming pipeline can maintain exactly — the only cross-document state
    is ``min(id)`` per (band, key), a commutative idempotent monoid — and,
    because every hash is engine-portable, the whole keep-set (not just a
    verified-pair approximation) hash-checks against DuckDB.

    Versus ``minhash_lsh_pairs`` + ``apply_pair_dedup``: no exact-Jaccard
    verification pass, so band false positives drop extra docs; tune
    rows-per-band to put the S-curve midpoint ((1/bands)^(bands/num_hashes))
    above the corpus' background similarity. With 32/4 the midpoint is
    j≈0.84 — twins at j≈0.99 collide w.p. ~0.92 per band (>0.9999 overall).

    ``bucket_minima`` (band, key, keeper) injects externally-maintained
    state (the streaming twin's sink table); default recomputes in-plan.
    """
    bands_df = (
        band_rows
        if band_rows is not None
        else minhash_portable_bands(
            documents, id_col, text_col, num_hashes, bands, shingle_k
        )
    )
    bmin = (
        bucket_minima
        if bucket_minima is not None
        else bands_df.groupBy("band", "key").agg(F.min(id_col).alias("keeper"))
    )
    verdict = (
        bands_df.join(bmin, ["band", "key"])
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("keeper") == F.col(id_col), 1).otherwise(0)).alias(
                "__n_first"
            ),
            F.count(F.lit(1)).alias("__n_bands"),
        )
    )
    return (
        documents.join(verdict, id_col, "left")
        .filter(
            F.col("__n_bands").isNull() | (F.col("__n_first") == F.col("__n_bands"))
        )
        .drop("__n_first", "__n_bands")
    )


def minhash_portable_oracle(
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    select: str = "d.doc_id, d.lang, d.source",
) -> str:
    """DuckDB twin of ``minhash_portable_keep`` over ``documents`` — same
    shingles, same md5 base, same integer permutation literals, same
    band-minima keep rule."""
    r = num_hashes // bands
    cs = _portable_perm_coeffs(num_hashes)
    mins = ", ".join(
        f"MIN(({a} * b + {bb}) % {MINHASH_P}) AS h{i}" for i, (a, bb) in enumerate(cs)
    )
    bandrows = " UNION ALL ".join(
        "SELECT doc_id, %d AS band, concat_ws('_', %s) AS key FROM sig"
        % (b, ", ".join(f"h{b * r + j}" for j in range(r)))
        for b in range(bands)
    )
    hi = shingle_k - 2  # range() end is exclusive: i in 1 .. len-k+1
    return f"""
        WITH sh AS (
          SELECT doc_id,
                 unnest([substr(lower(text), i, {shingle_k})
                         FOR i IN range(1, len(text) - {hi})]) AS s
          FROM documents WHERE len(text) >= {shingle_k}
        ), based AS (
          SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS b
          FROM sh
        ), sig AS (SELECT doc_id, {mins} FROM based GROUP BY doc_id),
        bandrows AS ({bandrows}),
        bmin AS (SELECT band, key, MIN(doc_id) AS keeper FROM bandrows GROUP BY band, key),
        verdict AS (
          SELECT b.doc_id,
                 SUM(CASE WHEN m.keeper = b.doc_id THEN 1 ELSE 0 END) AS n_first,
                 COUNT(*) AS n_bands
          FROM bandrows b JOIN bmin m USING (band, key) GROUP BY b.doc_id
        )
        SELECT {select} FROM documents d
        LEFT JOIN verdict v USING (doc_id)
        WHERE v.doc_id IS NULL OR v.n_first = v.n_bands
    """


def ppjoin_pairs(
    documents: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (PPJoin,
    Xiao et al. 2008): all pairs with Jaccard >= t, NO false negatives
    and NO probability — the deterministic sibling of
    ``minhash_lsh_pairs`` (probabilistic recall) and the scalable
    replacement for ``ngram_jaccard_pairs`` (the O(block²) baseline).

    Prefix filter: order every document's distinct tokens by GLOBAL
    rarity (document frequency asc, token asc — the canonical ordering
    that minimizes collisions); two sets with Jaccard >= t MUST share a
    token among their first ``|A| - ceil(t|A|) + 1`` rarest tokens, so
    candidates come from an equi-join on prefix tokens only. A size
    filter (``t|A| <= |B| <= |A|/t``, cross-multiplied in integers)
    prunes further before exact verification counts the intersection.

    The threshold is the RATIONAL ``threshold_num/threshold_den``; every
    gate is an integer cross-multiplication — no float thresholds
    anywhere; the output jaccard is one exact double division.

    Output: ``(id_a, id_b, inter, size_a, size_b, jaccard)``.

    Scale: token-rank join (vocab-sized dimension), one prefix self-join
    whose cost is sum of per-token prefix-list squares (rare-first
    ordering keeps these lists short), one verification join per
    candidate pair. All equi-joins; no Python.
    """
    from flink_example_spark.operators.text import normalized, tokens

    tn, td = threshold_num, threshold_den
    dt = (
        documents.select(
            F.col(id_col).alias("d"),
            F.explode(tokens(normalized(F.col(text_col)))).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
        # consumed by sizes/order/ranked AND twice by verification —
        # cut once (DESIGN.md multi-consumer rule)
        .localCheckpoint()
    )
    sizes = dt.groupBy("d").agg(F.count(F.lit(1)).alias("sz"))
    order = dt.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        dt.join(order, "t")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("d").orderBy("df", "t")
            ),
        )
        .join(sizes, "d")
    )
    # prefix length L = sz - ceil(t*sz) + 1, ceil via (tn*sz + td - 1) div td
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.expr(f"({tn} * sz + {td} - 1) div {td}") + 1
    ).select("d", "t", "sz").localCheckpoint()  # both self-join sides
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .filter(F.col("a.d") < F.col("b.d"))
        .filter(
            (F.lit(tn) * F.col("a.sz") <= F.lit(td) * F.col("b.sz"))
            & (F.lit(tn) * F.col("b.sz") <= F.lit(td) * F.col("a.sz"))
        )
        .select(
            F.col("a.d").alias("id_a"),
            F.col("b.d").alias("id_b"),
            F.col("a.sz").alias("size_a"),
            F.col("b.sz").alias("size_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(dt.select(F.col("d").alias("id_a"), "t"), "id_a")
        .join(dt.select(F.col("d").alias("id_b"), "t"), ["id_b", "t"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.filter(
        F.lit(td) * F.col("inter")
        >= F.lit(tn) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
    ).select(
        "id_a",
        "id_b",
        "inter",
        "size_a",
        "size_b",
        (
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def ppjoin_oracle(
    threshold_num: int = 3, threshold_den: int = 5
) -> str:
    """DuckDB twin of :func:`ppjoin_pairs` (documents table)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    tn, td = threshold_num, threshold_den
    return f"""
        WITH dt AS MATERIALIZED (
          SELECT DISTINCT doc_id AS d, t FROM (
            SELECT doc_id, unnest(string_split_regex({_DUCK_NORM}, '\\s+')) AS t
            FROM documents
          ) WHERE t <> ''
        ), sizes AS MATERIALIZED (
          SELECT d, CAST(COUNT(*) AS BIGINT) AS sz FROM dt GROUP BY d
        ), ord AS MATERIALIZED (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY t
        ), ranked AS MATERIALIZED (
          SELECT dt.d, dt.t, sizes.sz,
                 ROW_NUMBER() OVER (PARTITION BY dt.d ORDER BY ord.df, dt.t) AS rk
          FROM dt JOIN ord USING (t) JOIN sizes USING (d)
        ), prefix AS MATERIALIZED (
          SELECT d, t, sz FROM ranked
          WHERE rk <= sz - (({tn} * sz + {td} - 1) // {td}) + 1
        ), cand AS MATERIALIZED (
          SELECT DISTINCT a.d AS id_a, b.d AS id_b, a.sz AS size_a, b.sz AS size_b
          FROM prefix a JOIN prefix b ON a.t = b.t AND a.d < b.d
          WHERE {tn} * a.sz <= {td} * b.sz AND {tn} * b.sz <= {td} * a.sz
        ), inter AS (
          SELECT c.id_a, c.id_b, c.size_a, c.size_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM cand c
          JOIN dt x ON x.d = c.id_a
          JOIN dt y ON y.d = c.id_b AND y.t = x.t
          GROUP BY c.id_a, c.id_b, c.size_a, c.size_b
        )
        SELECT id_a, id_b, inter, size_a, size_b,
               CAST(inter AS DOUBLE) / CAST(size_a + size_b - inter AS DOUBLE)
                 AS jaccard
        FROM inter
        WHERE {td} * inter >= {tn} * (size_a + size_b - inter)
    """


def ppjoin_weighted_pairs(
    documents: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT WEIGHTED token-set similarity join: all pairs with weighted
    Jaccard ``Σ_{{t∈A∩B}} w_t / Σ_{{t∈A∪B}} w_t >= tn/td``, where the
    token weight is the integer rarity ``w_t = length(bin(N div df_t))``
    (= floor(log2(N/df_t)) + 1 — the repo's engine-portable log2 device,
    DESIGN.md round 6). Rare tokens dominate the score, so "acme corp
    intl" ~ "acme corp" matches on the rare brand token while stopword
    overlap alone cannot reach the threshold — the long-name entity
    matcher unweighted Jaccard dilutes.

    Weighted prefix filter (exact, no false negatives): order each
    document's tokens by global rarity (df asc, t asc). If J_w >= t then
    the first COMMON token c in that order must lie in BOTH prefixes,
    where A's prefix keeps token r while the suffix weight from r on
    satisfies ``td·(W_A - cum_w(r) + w_r) >= tn·W_A`` (otherwise the
    overlap weight, bounded by the suffix, could not reach t·W_A ≤
    t·W_union ≤ overlap). Candidates therefore come from an equi-join on
    prefix tokens; a weighted size filter (``tn·W_A <= td·W_B`` and
    symmetric) prunes before exact verification sums the shared weight.
    Every gate is an integer cross-multiplication; the output score is
    one exact double division.

    Output: ``(id_a, id_b, inter_w, weight_a, weight_b, jaccard_w)``.

    Scale: identical skeleton to :func:`ppjoin_pairs` (vocab-sized weight
    dimension, prefix self-join, candidate-sized verify); rare-first
    ordering keeps prefix lists short exactly where weights are large.
    """
    from flink_example_spark.operators.text import normalized, tokens

    tn, td = threshold_num, threshold_den
    dt = (
        documents.select(
            F.col(id_col).alias("d"),
            F.explode(tokens(normalized(F.col(text_col)))).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
        .localCheckpoint()  # weights/sums/prefix AND twice by verification
    )
    tot = dt.agg(F.countDistinct("d").alias("n_docs"))
    wts = (
        dt.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "df",
            F.expr("length(bin(n_docs div df))").cast("long").alias("w"),
        )
    )
    dtw = dt.join(wts, "t").localCheckpoint()  # (d, t, df, w)
    wsum = dtw.groupBy("d").agg(F.sum("w").alias("tw"))
    cum_w = Window.partitionBy("d").orderBy("df", "t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = dtw.withColumn("cum", F.sum("w").over(cum_w)).join(wsum, "d")
    # token stays in the prefix while td*(suffix weight incl. itself) >= tn*W
    prefix = (
        ranked.filter(
            F.lit(td) * (F.col("tw") - F.col("cum") + F.col("w"))
            >= F.lit(tn) * F.col("tw")
        )
        .select("d", "t", "tw")
        .localCheckpoint()  # both self-join sides
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .filter(F.col("a.d") < F.col("b.d"))
        .filter(
            (F.lit(tn) * F.col("a.tw") <= F.lit(td) * F.col("b.tw"))
            & (F.lit(tn) * F.col("b.tw") <= F.lit(td) * F.col("a.tw"))
        )
        .select(
            F.col("a.d").alias("id_a"),
            F.col("b.d").alias("id_b"),
            F.col("a.tw").alias("weight_a"),
            F.col("b.tw").alias("weight_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(dtw.select(F.col("d").alias("id_a"), "t", "w"), "id_a")
        .join(dtw.select(F.col("d").alias("id_b"), "t"), ["id_b", "t"])
        .groupBy("id_a", "id_b", "weight_a", "weight_b")
        .agg(F.sum("w").alias("inter_w"))
    )
    return inter.filter(
        F.lit(td) * F.col("inter_w")
        >= F.lit(tn) * (F.col("weight_a") + F.col("weight_b") - F.col("inter_w"))
    ).select(
        "id_a",
        "id_b",
        "inter_w",
        "weight_a",
        "weight_b",
        (
            F.col("inter_w").cast("double")
            / (F.col("weight_a") + F.col("weight_b") - F.col("inter_w")).cast("double")
        ).alias("jaccard_w"),
    )


def ppjoin_weighted_oracle(
    threshold_num: int = 3, threshold_den: int = 5
) -> str:
    """Brute-force DuckDB twin of :func:`ppjoin_weighted_pairs` over the
    documents table — exact because the weighted prefix filter has zero
    false negatives, so the candidate join EQUALS all-pairs weighted
    Jaccard at the threshold."""
    from flink_example_spark.operators.text import _DUCK_NORM

    tn, td = threshold_num, threshold_den
    return f"""
        WITH dt AS MATERIALIZED (
          SELECT DISTINCT doc_id AS d, t FROM (
            SELECT doc_id, unnest(string_split_regex({_DUCK_NORM}, '\\s+')) AS t
            FROM documents
          ) WHERE t <> ''
        ), tot AS (
          SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs FROM dt
        ), wts AS MATERIALIZED (
          SELECT t, CAST(length(bin(n_docs // df)) AS BIGINT) AS w
          FROM (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY t), tot
        ), ws AS MATERIALIZED (
          SELECT d, CAST(SUM(w) AS BIGINT) AS tw
          FROM dt JOIN wts USING (t) GROUP BY d
        ), iw AS (
          SELECT a.d AS id_a, b.d AS id_b, CAST(SUM(wts.w) AS BIGINT) AS inter_w
          FROM dt a JOIN dt b ON a.t = b.t AND a.d < b.d
          JOIN wts ON wts.t = a.t
          GROUP BY a.d, b.d
        )
        SELECT id_a, id_b, inter_w, wa.tw AS weight_a, wb.tw AS weight_b,
               CAST(inter_w AS DOUBLE)
                 / CAST(wa.tw + wb.tw - inter_w AS DOUBLE) AS jaccard_w
        FROM iw JOIN ws wa ON wa.d = id_a JOIN ws wb ON wb.d = id_b
        WHERE {td} * inter_w >= {tn} * (wa.tw + wb.tw - inter_w)
    """


def lcs_explain(
    documents: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    topn: int = 16,
    n_tokens: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate ALIGNMENT explanation: for the ``topn``
    highest-Jaccard PPJoin pairs, the exact longest-common-subsequence
    over each document's first ``n_tokens`` tokens — the "show me the
    shared run structure" diff a dedup reviewer wants (set similarity
    says HOW MUCH overlaps; LCS says whether it overlaps IN ORDER —
    boilerplate reordering vs true copying).

    Pair selection is deterministic: exact micro Jaccard
    ``(inter*1e6) div union`` then (id_a, id_b) — an integer order key,
    TakeOrderedAndProject. The DP is genuinely sequential →
    ``applyInPandas`` per pair (topn * n_tokens² integer cells); the
    DuckDB twin unrolls it by anti-diagonal wavefronts exactly like
    ``timeseries.dtw_matrix_oracle`` (max recurrence, 0 boundary).

    Output per pair: ``(id_a, id_b, jaccard_micro, n_a, n_b, lcs_len,
    lcs_ratio_milli)`` with ratio = ``(2*lcs*1000) div (n_a+n_b)``.

    Scale: the pair source is the scalable PPJoin; everything after is
    topn-bounded.
    """
    import pandas as pd

    from flink_example_spark.operators.text import normalized, tokens

    top = (
        ppjoin_pairs(documents, threshold_num, threshold_den, id_col, text_col)
        .withColumn(
            "jaccard_micro",
            F.expr("(inter * 1000000) div (size_a + size_b - inter)"),
        )
        .orderBy(F.desc("jaccard_micro"), "id_a", "id_b")
        .limit(topn)
        .select("id_a", "id_b", "jaccard_micro")
    )
    seqs = documents.select(
        F.col(id_col).alias("d"),
        F.slice(
            F.filter(
                tokens(normalized(F.col(text_col))), lambda t: t != ""
            ),
            1,
            n_tokens,
        ).alias("arr"),
    )
    both = (
        top.join(seqs.select(F.col("d").alias("id_a"), F.col("arr").alias("arr_a")), "id_a")
        .join(seqs.select(F.col("d").alias("id_b"), F.col("arr").alias("arr_b")), "id_b")
        .filter((F.size("arr_a") > 0) & (F.size("arr_b") > 0))
    )

    def dp(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = []
        for r in pdf.itertuples(index=False):
            a, b = list(r.arr_a), list(r.arr_b)
            na, nb = len(a), len(b)
            prev = [0] * (nb + 1)
            for i in range(1, na + 1):
                cur = [0] * (nb + 1)
                for j in range(1, nb + 1):
                    cur[j] = max(
                        prev[j],
                        cur[j - 1],
                        prev[j - 1] + (1 if a[i - 1] == b[j - 1] else 0),
                    )
                prev = cur
            lcs = prev[nb]
            rows.append(
                (
                    int(r.id_a),
                    int(r.id_b),
                    int(r.jaccard_micro),
                    na,
                    nb,
                    lcs,
                    (2 * lcs * 1000) // (na + nb),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "id_a",
                "id_b",
                "jaccard_micro",
                "n_a",
                "n_b",
                "lcs_len",
                "lcs_ratio_milli",
            ],
        )

    return both.groupBy("id_a", "id_b").applyInPandas(
        lambda key, p: dp(p),
        schema=(
            "id_a long, id_b long, jaccard_micro long, n_a long, n_b long,"
            " lcs_len long, lcs_ratio_milli long"
        ),
    )


def lcs_explain_oracle(
    threshold_num: int = 4,
    threshold_den: int = 5,
    topn: int = 16,
    n_tokens: int = 24,
) -> str:
    """DuckDB twin of :func:`lcs_explain` — PPJoin top-n composed with
    the LCS DP unrolled by anti-diagonal wavefronts (max recurrence;
    boundaries are 0, so COALESCE(.., 0) is exact)."""
    from flink_example_spark.operators.text import _DUCK_NORM

    base = ppjoin_oracle(threshold_num, threshold_den)
    n = n_tokens
    parts = [
        f"""WITH pp AS MATERIALIZED ({base}),
        top_pairs AS MATERIALIZED (
          SELECT id_a, id_b,
                 (inter * 1000000) // (size_a + size_b - inter) AS jaccard_micro
          FROM pp
          ORDER BY jaccard_micro DESC, id_a, id_b LIMIT {topn}
        ),
        seqs AS MATERIALIZED (
          SELECT d, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok,
                 len(arr) AS nlen
          FROM (
            SELECT doc_id AS d,
                   list_filter(string_split_regex({_DUCK_NORM}, '\\s+'),
                               t -> t <> '')[1:{n}] AS arr
            FROM documents
          )
          WHERE d IN (SELECT id_a FROM top_pairs UNION
                      SELECT id_b FROM top_pairs)
        ),
        lens AS MATERIALIZED (
          SELECT t.id_a, t.id_b, t.jaccard_micro,
                 CAST(sa.nlen AS BIGINT) AS n_a, CAST(sb.nlen AS BIGINT) AS n_b
          FROM top_pairs t
          JOIN (SELECT DISTINCT d, nlen FROM seqs) sa ON sa.d = t.id_a
          JOIN (SELECT DISTINCT d, nlen FROM seqs) sb ON sb.d = t.id_b
          WHERE sa.nlen > 0 AND sb.nlen > 0
        ),
        cells AS MATERIALIZED (
          SELECT l.id_a, l.id_b, a.pos AS i, b.pos AS j,
                 CAST(CASE WHEN a.tok = b.tok THEN 1 ELSE 0 END AS BIGINT) AS eq
          FROM lens l
          JOIN seqs a ON a.d = l.id_a
          JOIN seqs b ON b.d = l.id_b
        )"""
    ]
    for k in range(2, 2 * n + 1):
        p1 = f"wf{k - 1}"
        diag = (
            f"LEFT JOIN wf{k - 2} dg ON dg.id_a = x.id_a AND dg.id_b = x.id_b"
            f" AND dg.i = x.i - 1 AND dg.j = x.j - 1"
            if k >= 4
            else ""
        )
        d_dp = f"dg.dp" if k >= 4 else "NULL"
        up = (
            f"LEFT JOIN {p1} u ON u.id_a = x.id_a AND u.id_b = x.id_b"
            f" AND u.i = x.i - 1 AND u.j = x.j"
            if k >= 3
            else ""
        )
        lf = (
            f"LEFT JOIN {p1} lf ON lf.id_a = x.id_a AND lf.id_b = x.id_b"
            f" AND lf.i = x.i AND lf.j = x.j - 1"
            if k >= 3
            else ""
        )
        u_dp = "u.dp" if k >= 3 else "NULL"
        l_dp = "lf.dp" if k >= 3 else "NULL"
        parts.append(f"""wf{k} AS MATERIALIZED (
          SELECT x.id_a, x.id_b, x.i, x.j,
                 greatest(COALESCE({u_dp}, 0), COALESCE({l_dp}, 0),
                          COALESCE({d_dp}, 0) + x.eq) AS dp
          FROM (SELECT * FROM cells WHERE i + j = {k}) x
          {up}
          {lf}
          {diag}
        )""")
    finals = " UNION ALL ".join(
        f"SELECT id_a, id_b, i, j, dp FROM wf{k}" for k in range(2, 2 * n + 1)
    )
    parts.append(f"alldp AS MATERIALIZED ({finals})")
    return (
        ",\n        ".join(parts)
        + """
        SELECT l.id_a, l.id_b, l.jaccard_micro, l.n_a, l.n_b,
               CAST(d.dp AS BIGINT) AS lcs_len,
               (2 * d.dp * 1000) // (l.n_a + l.n_b) AS lcs_ratio_milli
        FROM lens l
        JOIN alldp d ON d.id_a = l.id_a AND d.id_b = l.id_b
          AND d.i = l.n_a AND d.j = l.n_b"""
    )


def dup_rate_by_source(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source duplication audit — "which feeds are dirty": for each
    source, exact-content duplicate share (md5 identity within the
    source) and the share of its docs whose content also appears in
    ANOTHER source (cross-feed mirroring — the syndication signal that
    decides which feed to keep).

    Output per group: ``(grp, n_docs, n_distinct, dup_rate_micro,
    n_cross, cross_rate_micro)``.

    Scale: one (group, hash) aggregation + one hash-grain aggregation
    joined back broadcast-ably (content-hash dimension); no text ever
    shuffles — only 32-char digests.
    """
    h = documents.select(
        F.col(group_col).alias("grp"), F.md5(F.col(text_col)).alias("h")
    )
    per_gh = h.groupBy("grp", "h").agg(F.count(F.lit(1)).alias("c"))
    spread = per_gh.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    j = per_gh.join(spread, "h")
    return (
        j.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("n_groups") >= 2, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_cross"),
        )
        .select(
            "grp",
            "n_docs",
            "n_distinct",
            F.expr(
                "((n_docs - n_distinct) * 1000000) div n_docs"
            ).alias("dup_rate_micro"),
            "n_cross",
            F.expr("(n_cross * 1000000) div n_docs").alias(
                "cross_rate_micro"
            ),
        )
    )


def dup_rate_by_source_oracle(
    group_col: str = "source", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`dup_rate_by_source` (documents table)."""
    return f"""
        WITH per_gh AS MATERIALIZED (
          SELECT {group_col} AS grp, md5({text_col}) AS h,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ),
        spread AS (
          SELECT h, CAST(COUNT(*) AS BIGINT) AS n_groups
          FROM per_gh GROUP BY h
        )
        SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               ((CAST(SUM(c) AS BIGINT) - CAST(COUNT(*) AS BIGINT)) * 1000000)
                 // CAST(SUM(c) AS BIGINT) AS dup_rate_micro,
               CAST(SUM(CASE WHEN n_groups >= 2 THEN c ELSE 0 END) AS BIGINT)
                 AS n_cross,
               (CAST(SUM(CASE WHEN n_groups >= 2 THEN c ELSE 0 END) AS BIGINT)
                 * 1000000) // CAST(SUM(c) AS BIGINT) AS cross_rate_micro
        FROM per_gh JOIN spread USING (h)
        GROUP BY grp
    """


def transitivity_audit(
    documents: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    neighbor_cap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cluster-transitivity audit of the near-dup pair graph — the dedup
    governance question "are my duplicate clusters real cliques, or
    CHAINS glued by bridge documents?" Cluster-canonical dedup
    (``duplicate_clusters`` + keep-best) silently merges A..Z when only
    consecutive pairs matched; a low closure / density / high
    chained-member count is the signal that a threshold or a banding
    config is over-merging.

    Per duplicate cluster (exact unless noted):

    - ``size``, ``n_edges``, ``density_milli`` — edge density vs the
      clique bound, ``(2000 * e) div (n * (n-1))`` (exact integers).
    - ``chained_members`` — members with NO direct pair edge to the
      cluster keeper (min id): exactly the docs dropped on transitive
      evidence alone.
    - ``wedges`` / ``closed_wedges`` / ``closure_milli`` — wedge closure
      over each node's ``neighbor_cap`` LOWEST-id neighbors (deterministic
      truncation; the full wedge count is sum-of-degree-squares and a
      single templated near-clique makes it quadratic — the probe graph
      at sf0.01 has 13.9M uncapped wedges vs 149k capped). Biased toward
      low ids, documented estimator, identical truncation both engines.
    - ``hub_members`` — members whose degree exceeds ``neighbor_cap``
      (how much of the cluster the truncation touched).

    Scale: pairs come from :func:`ppjoin_pairs` (prefix-filtered exact
    join); clusters from star-contraction (O(log²) rounds); the wedge
    fan-out is bounded at ``cap*(cap-1)/2`` per node by a per-key window
    (hash-partitioned on the node — no global ordering); everything else
    is equi-joins + hash aggregates. Nothing reaches the driver.
    """
    pairs = ppjoin_pairs(
        documents, threshold_num, threshold_den, id_col, text_col
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return pair_graph_stats(pairs, neighbor_cap=neighbor_cap, id_col=id_col)


def pair_graph_stats(
    pairs: DataFrame, neighbor_cap: int = 32, id_col: str = "doc_id"
) -> DataFrame:
    """Per-cluster structure stats of a near-dup pair graph (the compute
    core of :func:`transitivity_audit`; ``pairs`` is any ``(doc_a <
    doc_b)`` edge relation, so MinHash / SimHash pair sets audit the
    same way)."""
    cap = neighbor_cap
    # consumed by clusters, sym (twice), ecnt and the closure probe —
    # cut once (DESIGN.md multi-consumer rule)
    pairs = pairs.localCheckpoint()
    clusters = duplicate_clusters(pairs).localCheckpoint()  # five consumers
    edges = pairs
    sym = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    trunc = (
        sym.withColumn(
            "rn", F.row_number().over(Window.partitionBy("u").orderBy("v"))
        )
        .filter(F.col("rn") <= cap)
        .select("u", "v")
        .localCheckpoint()  # both wedge self-join sides
    )
    wedge = (
        trunc.alias("s1")
        .join(trunc.alias("s2"), "u")
        .filter(F.col("s1.v") < F.col("s2.v"))
        .select(
            F.col("u").alias("mid"),
            F.col("s1.v").alias("x"),
            F.col("s2.v").alias("y"),
        )
    )
    closed = (
        wedge.join(clusters.withColumnRenamed(id_col, "mid"), "mid")
        .join(
            edges.select(
                F.col("doc_a").alias("x"),
                F.col("doc_b").alias("y"),
                F.lit(1).alias("hit"),
            ),
            ["x", "y"],
            "left",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("wedges"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("closed_wedges"),
        )
    )
    memb = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    ecnt = (
        edges.join(clusters.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    direct = (
        sym.join(clusters.withColumnRenamed(id_col, "u"), "u")
        .filter(F.col("v") == F.col("cluster_id"))
        .select("u")
        .distinct()
    )
    chained = (
        clusters.filter(F.col(id_col) != F.col("cluster_id"))
        .join(direct.withColumnRenamed("u", id_col), id_col, "left_anti")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("chained_members"))
    )
    hubs = (
        deg.join(clusters.withColumnRenamed(id_col, "u"), "u")
        .filter(F.col("dg") > cap)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hub_members"))
    )
    return (
        memb.join(ecnt, "cluster_id")
        .join(chained, "cluster_id", "left")
        .join(hubs, "cluster_id", "left")
        .join(closed, "cluster_id", "left")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "size",
            "n_edges",
            # all terms positive — plain div is floor in both engines here
            F.expr("(2000 * n_edges) div (size * (size - 1))").alias(
                "density_milli"
            ),
            F.coalesce("chained_members", F.lit(0))
            .cast("long")
            .alias("chained_members"),
            F.coalesce("hub_members", F.lit(0)).cast("long").alias("hub_members"),
            F.coalesce("wedges", F.lit(0)).cast("long").alias("wedges"),
            F.coalesce("closed_wedges", F.lit(0))
            .cast("long")
            .alias("closed_wedges"),
            F.expr(
                "CASE WHEN coalesce(wedges, 0) > 0"
                "     THEN (1000 * closed_wedges) div wedges END"
            )
            .cast("long")
            .alias("closure_milli"),
        )
    )


def transitivity_audit_oracle(
    threshold_num: int = 4, threshold_den: int = 5, neighbor_cap: int = 32
) -> str:
    """DuckDB twin of :func:`transitivity_audit` (documents table)."""
    cap = neighbor_cap
    return f"""
        WITH RECURSIVE
        pairs AS MATERIALIZED ({ppjoin_oracle(threshold_num, threshold_den)}),
        edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
        sym AS MATERIALIZED (
          SELECT a AS u, b AS v FROM edges
          UNION ALL SELECT b AS u, a AS v FROM edges),
        reach(id, r) AS (
          SELECT u, u FROM sym UNION SELECT u, v FROM sym
          UNION SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u),
        clusters AS MATERIALIZED (
          SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        deg AS MATERIALIZED (
          SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM sym GROUP BY u),
        trunc AS MATERIALIZED (
          SELECT u, v FROM (
            SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rn
            FROM sym) WHERE rn <= {cap}),
        wedge AS MATERIALIZED (
          SELECT s1.u AS mid, s1.v AS x, s2.v AS y
          FROM trunc s1 JOIN trunc s2 ON s1.u = s2.u AND s1.v < s2.v),
        wst AS MATERIALIZED (
          SELECT c.cluster_id,
                 CAST(COUNT(*) AS BIGINT) AS wedges,
                 CAST(SUM(CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS closed_wedges
          FROM wedge w JOIN clusters c ON w.mid = c.doc_id
          LEFT JOIN edges e ON e.a = w.x AND e.b = w.y
          GROUP BY 1),
        memb AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
          FROM clusters GROUP BY 1),
        ecnt AS (
          SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
          FROM edges e JOIN clusters c ON e.a = c.doc_id GROUP BY 1),
        direct AS (
          SELECT DISTINCT s.u FROM sym s JOIN clusters c ON s.u = c.doc_id
          WHERE s.v = c.cluster_id),
        chained AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS chained_members
          FROM clusters
          WHERE doc_id <> cluster_id AND doc_id NOT IN (SELECT u FROM direct)
          GROUP BY 1),
        hubs AS (
          SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS hub_members
          FROM deg d JOIN clusters c ON d.u = c.doc_id
          WHERE d.dg > {cap} GROUP BY 1)
        SELECT CAST(m.cluster_id AS BIGINT) AS cluster_id, m.size, ecnt.n_edges,
               (2000 * ecnt.n_edges) // (m.size * (m.size - 1)) AS density_milli,
               COALESCE(chained.chained_members, 0) AS chained_members,
               COALESCE(hubs.hub_members, 0) AS hub_members,
               COALESCE(wst.wedges, 0) AS wedges,
               COALESCE(wst.closed_wedges, 0) AS closed_wedges,
               CASE WHEN COALESCE(wst.wedges, 0) > 0
                    THEN (1000 * wst.closed_wedges) // wst.wedges
               END AS closure_milli
        FROM memb m JOIN ecnt USING (cluster_id)
        LEFT JOIN chained USING (cluster_id)
        LEFT JOIN hubs USING (cluster_id)
        LEFT JOIN wst USING (cluster_id)
    """


def substring_spans_dedup(
    documents: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level corpus dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): exact token spans of
    length >= k repeated ACROSS documents are removed from every
    occurrence EXCEPT one canonical copy — the dedup mode between
    whole-document hashing (exact_dedup) and boilerplate stripping
    (curation.remove_shared_spans, which deletes shared spans from ALL
    docs).

    Semantics: a token is removed iff it is covered by some k-token
    shingle occurrence that (a) appears in >= 2 distinct documents and
    (b) is not that shingle's canonical occurrence — the corpus-global
    minimum (doc, pos), via the zero-padded composite order key (the
    repo's portable arg-min device). Because every shingle of one
    repeated maximal span shares the same canonical document, whole
    maximal spans survive intact exactly once (in the lowest-id doc
    holding them) and vanish elsewhere; overlapping/adjacent repeats
    merge implicitly through the same k-row sliding-MAX coverage window
    remove_shared_spans uses — no interval-union pass, no self-join.

    Output: ``(doc_id, clean_text, n_tokens_removed, n_spans_removed)``
    — one row per document with >= 1 token (whitespace normalized to
    single spaces); n_spans_removed counts maximal removed intervals.

    Scale shape (the 100 TB plan, NEVER all-pairs): ONE sorted-shingle
    shuffle — and the shingle NEVER ships as a string. The k-gram is
    reduced to ``xxhash64(gram)`` (8 bytes, ~10x fewer shuffle bytes
    than the ~k-word string) in the same projection that builds it, so
    both the gram aggregation and the occurrence equi-join carry only
    the hashed key plus the fixed-width order key — the
    ``shared_spans(hashed=True)`` diet (curation.py module header;
    measured 2.1x fewer shuffle bytes there at sf0.1). The gram
    string itself never reaches an exchange or the output (pinned by
    test_plan_regressions). AQE broadcasts the repeated set when it is
    small, shuffles when it is not — no hard-coded broadcast; coverage
    and reassembly are per-doc windows. A suffix-array build (the
    paper's single-node device) is replaced by the shingle shuffle:
    identical removed-span semantics for spans >= k, linear shuffle
    bytes in corpus size. Two distinct grams colliding at 64 bits
    (~1e-13 at 1e6 distinct grams) could over-flag one occurrence; the
    exact-string form stays the oracle's definition, so the sf gates
    would catch a collision as a hash mismatch.
    """
    gh = _substring_occurrences(documents, k, id_col, text_col)
    rep = (
        gh.groupBy("__h")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min("__ok").alias("__canon"),
        )
        .filter(F.col("__nd") >= 2)
        .select("__h", "__canon")
    )
    flagged = (
        gh.join(rep, "__h")
        .filter(F.col("__ok") != F.col("__canon"))
        .select(id_col, "__pos")
        .distinct()
    )
    return _substring_surgery(documents, flagged, k, id_col, text_col)


def _substring_occurrences(
    documents: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """``(id, __pos, __h, __ok)`` k-gram occurrence relation shared by
    the batch operator and the streaming twin: the string gram dies
    inside this projection — only the 8-byte hashed key (plus the
    fixed-width order key) ever crosses an exchange."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = (
        documents.select(F.col(id_col), w.alias("__w"))
        .filter(F.size("__w") >= k)
        .select(
            F.col(id_col),
            F.col("__w"),
            F.explode(
                F.sequence(F.lit(1), F.size("__w") - (k - 1))
            ).alias("__pos"),
        )
        .select(
            F.col(id_col),
            "__pos",
            F.concat_ws(
                " ", *[F.element_at("__w", F.col("__pos") + j) for j in range(k)]
            ).alias("__g"),
        )
    )
    okey = F.concat(
        F.lpad(F.col(id_col).cast("string"), 12, "0"),
        F.lpad(F.col("__pos").cast("string"), 12, "0"),
    )
    return grams.select(
        id_col, "__pos", F.xxhash64("__g").alias("__h"), okey.alias("__ok")
    )


def _substring_surgery(
    documents: DataFrame,
    flagged: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply the span surgery given the flagged ``(id, __pos)`` gram
    starts: k-row sliding-MAX coverage + ordered reassembly (shared by
    the batch operator and the streaming twin's read)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = documents.select(
        F.col(id_col), F.posexplode(w).alias("__p0", "__tok")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("__pos"), "__tok")
    cover_w = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(-(k - 1), 0)
    )
    lag_w = Window.partitionBy(id_col).orderBy("__pos")
    covered = (
        toks.join(
            flagged.withColumn("__flag", F.lit(1)), [id_col, "__pos"], "left"
        )
        .select(
            F.col(id_col),
            "__pos",
            "__tok",
            F.coalesce(F.col("__flag"), F.lit(0)).alias("__flag"),
        )
        .withColumn("__cov", F.max("__flag").over(cover_w))
        .withColumn(
            "__spanstart",
            (
                (F.col("__cov") == 1)
                & (F.coalesce(F.lag("__cov").over(lag_w), F.lit(0)) == 0)
            ).cast("bigint"),
        )
    )
    return covered.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__cov") == 0, F.struct("__pos", "__tok"))
                    )
                ),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
        F.sum("__cov").cast("bigint").alias("n_tokens_removed"),
        F.sum("__spanstart").cast("bigint").alias("n_spans_removed"),
    )


def substring_spans_dedup_oracle(k: int = 10) -> str:
    """DuckDB twin of :func:`substring_spans_dedup` — same zero-padded
    canonical key, coverage window, and run counting."""
    joins = " || ' ' || ".join(f"w[pos+{j}]" for j in range(k))
    return f"""
        WITH w AS MATERIALIZED (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents),
        toks AS MATERIALIZED (
          SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
          FROM w),
        grams AS MATERIALIZED (
          SELECT doc_id, i.pos,
                 {joins} AS g,
                 lpad(CAST(doc_id AS VARCHAR), 12, '0') ||
                   lpad(CAST(i.pos AS VARCHAR), 12, '0') AS ok
          FROM w CROSS JOIN LATERAL (
            SELECT unnest(generate_series(1, len(w) - {k - 1})) AS pos) i
          WHERE len(w) >= {k}),
        rep AS MATERIALIZED (
          SELECT g, MIN(ok) AS canon FROM grams
          GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        flagged AS MATERIALIZED (
          SELECT DISTINCT doc_id, pos FROM grams JOIN rep USING (g)
          WHERE ok <> canon),
        cov AS MATERIALIZED (
          SELECT t.doc_id, t.pos, t.tok,
                 MAX(CASE WHEN f.pos IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY t.doc_id ORDER BY t.pos
                         ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
                   AS covered
          FROM toks t LEFT JOIN flagged f
            ON t.doc_id = f.doc_id AND t.pos = f.pos),
        runs AS (
          SELECT doc_id, pos, tok, covered,
                 CASE WHEN covered = 1 AND COALESCE(LAG(covered)
                   OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
                 THEN 1 ELSE 0 END AS spanstart
          FROM cov)
        SELECT doc_id,
               COALESCE(string_agg(tok, ' ' ORDER BY pos)
                          FILTER (WHERE covered = 0), '') AS clean_text,
               CAST(SUM(covered) AS BIGINT) AS n_tokens_removed,
               CAST(SUM(spanstart) AS BIGINT) AS n_spans_removed
        FROM runs GROUP BY doc_id
    """


def substring_dedup_stats(
    documents: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source reporting over the substring surgery — the pipeline
    scorecard a corpus owner reads before shipping the deduped shard:
    how much of each source is cross-corpus boilerplate. Output:
    ``(source, n_docs, docs_touched, tokens_removed, spans_removed)``."""
    surgery = substring_spans_dedup(documents, k, id_col, text_col)
    src = documents.select(F.col(id_col), F.col(source_col).alias("source"))
    return (
        surgery.join(src, id_col)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("n_tokens_removed") > 0).cast("long")
            ).cast("long").alias("docs_touched"),
            F.sum("n_tokens_removed").cast("long").alias("tokens_removed"),
            F.sum("n_spans_removed").cast("long").alias("spans_removed"),
        )
    )


def substring_dedup_stats_oracle(k: int = 10) -> str:
    """DuckDB twin of :func:`substring_dedup_stats`."""
    return f"""
        WITH surgery AS MATERIALIZED ({substring_spans_dedup_oracle(k)})
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN s.n_tokens_removed > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS docs_touched,
               CAST(SUM(s.n_tokens_removed) AS BIGINT) AS tokens_removed,
               CAST(SUM(s.n_spans_removed) AS BIGINT) AS spans_removed
        FROM surgery s JOIN documents d USING (doc_id)
        GROUP BY d.source
    """
