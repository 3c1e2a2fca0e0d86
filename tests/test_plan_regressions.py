"""Plan-shape regression tests: the properties that make the engine scale
must stay visible in the physical plan (SURVEY.md §4, PERF.md)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from flink_example_spark.plans.events_demo import feature_history, load_events

    plan = physical(feature_history(load_events(spark, SF)))
    assert "PushedFilters" in plan and "error" in plan
    # column pruning: props/value columns not needed don't reach the scan
    assert "ReadSchema" in plan


def test_version_history_single_exchange(spark):
    from flink_example_spark.plans.events_demo import feature_history, load_events

    plan = physical(feature_history(load_events(spark, SF)))
    assert plan.count("Exchange") == 1  # one shuffle on the entity key


def test_asof_union_single_exchange_over_union(spark):
    from flink_example_spark.operators.asof import asof_join
    from flink_example_spark.plans.events_demo import (
        examples,
        feature_history,
        load_events,
    )

    ev = load_events(spark, SF)
    joined = asof_join(
        examples(ev), feature_history(ev), on="_entity", probe_time="_prediction_time"
    )
    plan = physical(joined)
    # the as-of itself adds exactly one Exchange above the Union (plus the
    # per-input shuffles counted in the other tests)
    assert "Union" in plan
    assert "Window" in plan


def test_q5_broadcasts_small_dims(spark):
    from flink_example_spark.plans.relational import run_sql

    plan = physical(run_sql(spark, SF, "q5_local_supplier_volume"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q1_partial_aggregation(spark):
    from flink_example_spark.plans.relational import run_sql

    plan = physical(run_sql(spark, SF, "q1_pricing_summary"))
    # map-side partial agg before the exchange
    assert plan.count("HashAggregate") >= 2


def test_q10_q19_broadcast_and_pushdown(spark):
    from flink_example_spark.plans.relational import run_sql

    p10 = physical(run_sql(spark, SF, "q10_returned_items"))
    assert "BroadcastHashJoin" in p10  # nation (25 rows) must broadcast
    p19 = physical(run_sql(spark, SF, "q19_disjunctive_revenue"))
    # the OR-of-ANDs still pushes single-column bounds to the scan and
    # broadcasts the part side
    assert "PushedFilters" in p19 and "BroadcastHashJoin" in p19


def test_q21_no_cartesian(spark):
    """EXISTS/NOT EXISTS self-joins must plan as semi/anti hash joins —
    never a nested-loop/cartesian (the 100TB killer)."""
    from flink_example_spark.plans.relational import run_sql

    plan = physical(run_sql(spark, SF, "q21_sole_returner"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_projections_shuffle_free(spark):
    """Per-row curation ops (rule filter, redaction) must plan with ZERO
    exchanges — embarrassingly parallel at any scale."""
    from flink_example_spark.operators import curation
    from flink_example_spark.tables import load_table

    d = load_table(spark, SF, "documents")
    assert physical(curation.gopher_flags(d)).count("Exchange") == 0
    assert (
        physical(curation.redaction_stats(d, pattern=r"\b(customer)\b")).count("Exchange")
        == 0
    )


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark n-gram set must broadcast: the corpus n-gram stream is
    filtered map-side; the only exchanges are the benchmark-set distinct and
    the per-doc hit aggregation — never a corpus-sized shuffle before the
    join."""
    from flink_example_spark.operators import curation
    from flink_example_spark.tables import load_table

    d = load_table(spark, SF, "documents")
    plan = physical(
        curation.decontaminate(
            d.filter(F.col("doc_id") % 7 != 0), d.filter(F.col("doc_id") % 7 == 0), n=8
        )
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") <= 4


def test_topk_avoids_global_sort(spark):
    """Every ORDER BY + LIMIT query must plan as TakeOrderedAndProject —
    per-partition top-k then a k-row driver merge, never a full global sort
    (which would shuffle the whole relation at 100 TB)."""
    from flink_example_spark.plans.relational import run_sql

    for q in (
        "top_orders",
        "q3_shipping_priority",
        "q10_returned_items",
        "q18_large_volume_customers",
    ):
        plan = physical(run_sql(spark, SF, q))
        assert "TakeOrderedAndProject" in plan, q


def test_ivf_centroid_sampling_no_global_sort(spark):
    """Centroid seeding must stay TakeOrderedAndProject (per-partition top-k,
    k-row driver merge) — no Sort+Exchange of the corpus — and its numbering
    window must declare a partition spec (no unpartitioned WindowExec)."""
    from flink_example_spark.operators.similarity import _prep, _seed_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = _seed_centroids(_prep(emb, "vec_id", "embedding", "n"), 16)
    plan = physical(cent)
    assert "TakeOrderedAndProject" in plan
    # the only Sort allowed is inside TakeOrdered / the 16-row window stage;
    # no global Exchange(rangepartitioning) may exist
    assert "rangepartitioning" not in plan.lower()
    assert cent.count() == 16


def test_curated_corpus_no_cartesian_no_smj(spark):
    """The composed curation pipeline must keep every join broadcast-able
    at small-dim scale (benchmark gram set, keeper set, flag set) — no
    cartesian products, no accidental sort-merge of the corpus."""
    from flink_example_spark.operators.curation import curated_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(curated_corpus(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lm_surprisal_no_python_udf(spark):
    """Corpus-LM scoring stays entirely JVM-side: no Python eval nodes, and
    the token-total relation joins in as a broadcast (no extra exchange for
    the scalar)."""
    from flink_example_spark.operators.text import lm_surprisal
    from flink_example_spark.tables import load_table

    plan = physical(lm_surprisal(load_table(spark, SF, "documents")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_keep_broadcast_anti_join(spark):
    """The keep-first materialization is one broadcast anti-join — corpus
    rows never shuffle."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators import dedup, similarity
    from flink_example_spark.tables import load_table

    pairs = similarity.lsh_cosine_pairs(
        load_table(spark, SF, "embeddings"), threshold=0.4, n_bands=2
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    plan = physical(dedup.apply_pair_dedup(docs, pairs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_kmv_two_phase_windows(spark):
    """Phase-1 window partitions on (group, hash sub-bucket); only the
    bounded survivor set windows on the bare group."""
    from flink_example_spark.operators.sketch import kmv_distinct
    from flink_example_spark.tables import load_table

    import re

    d = load_table(spark, SF, "documents").select("lang", "text")
    plan = physical(kmv_distinct(d, "lang", "text", k=16))
    # two row_number windows: phase 1 partitioned on (group, sub-bucket)
    # (pmod compiles into a projected _w0 key), phase 2 on the bare group
    assert plan.count("Window [row_number()") == 2
    assert re.search(r"windowspecdefinition\(lang#\d+, _w0#", plan), plan
    # Spark's WindowGroupLimit pushes the k-limit below each shuffle too
    assert "WindowGroupLimit" in plan


def test_bm25_broadcasts_query_terms_before_tf(spark):
    """The query-term set broadcasts and filters the token stream BEFORE
    the (doc, term) aggregation; no cartesian anywhere."""
    from flink_example_spark.operators.text import bm25_topk
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    qs = spark.createDataFrame(
        [(0, "fast table scan")], "query_id bigint, query_text string"
    )
    plan = physical(bm25_topk(docs, qs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # top-k per query compiles to the WindowGroupLimit partial/final pair
    assert "WindowGroupLimit" in plan


def test_cm_sketch_reduce_side_is_bounded(spark):
    """The counter aggregation partially combines map-side (the reduce
    exchange carries at most depth*width rows), and the estimate join
    broadcasts the sketch."""
    from flink_example_spark.operators.sketch import cm_estimate, cm_sketch
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        F.col("lang").alias("v")
    )
    sketch = cm_sketch(docs, "v", depth=3, width=8)
    plan = physical(sketch)
    assert plan.count("HashAggregate") >= 2  # partial + final
    est = cm_estimate(sketch, docs.distinct(), "v", depth=3, width=8)
    assert "BroadcastHashJoin" in physical(est)


def test_snapshot_at_filter_below_head_window(spark):
    """The time-travel predicate evaluates BENEATH the head (latest-per-key)
    window — the head sorts only each key's surviving prefix, never the full
    history. (It cannot cross the history window itself: _change_time is
    that window's ORDER column.)"""
    from flink_example_spark.operators.versioned import snapshot_at
    from flink_example_spark.plans.events_demo import feature_history, load_events

    plan = physical(
        snapshot_at(
            feature_history(load_events(spark, SF)), "_entity", "2024-01-15 00:00:00"
        )
    )
    bound_at = plan.index("2024-01-15")
    head_partial = plan.index("row_number(), 1, Partial")
    assert bound_at > head_partial  # deeper in the tree than the head window


def test_temperature_mix_single_broadcast_no_corpus_shuffle(spark):
    """The corpus stream is filtered by a broadcast threshold join — the
    only exchanges belong to the tiny domain-count aggregate."""
    from flink_example_spark.operators.curation import temperature_mix
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(temperature_mix(docs, target_total=100))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_fuzzy_pairs_no_cartesian(spark):
    """The deletion-neighborhood join is an equi-join on the variant key —
    never a cartesian/nested-loop over the vocabulary."""
    from flink_example_spark.operators.dedup import fuzzy_word_pairs
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(fuzzy_word_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_step_filter_pushed_and_no_python(spark):
    from flink_example_spark.operators.cep import funnel
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(
        funnel(load_events(spark, SF), ["view", "click", "purchase"], 86400)
    )
    # each stage's event-type filter reaches the parquet scan, the whole
    # chain is codegen SQL (no Python workers anywhere)
    assert "PushedFilters" in plan and "view" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_event_bursts_single_exchange(spark):
    from flink_example_spark.operators.cep import event_bursts
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(event_bursts(load_events(spark, SF), "error", 3, 43200))
    # one key shuffle feeding the range-frame window; type filter pushed
    assert plan.count("Exchange") == 1
    assert "error" in plan and "PushedFilters" in plan


def test_linear_fit_single_aggregation_no_python(spark):
    from flink_example_spark.operators.ml import linear_fit
    from flink_example_spark.tables import load_table

    d = load_table(spark, SF, "documents").select(
        "lang", "n_chars", F.length("text").alias("n2")
    )
    plan = physical(linear_fit(d, "lang", "n2", "n_chars"))
    # normal equations = ONE partial+final hash aggregate pair (one shuffle)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2
    assert "BatchEvalPython" not in plan


def test_zscore_broadcasts_group_stats(spark):
    from flink_example_spark.operators.ml import zscore_outliers
    from flink_example_spark.tables import load_table

    d = load_table(spark, SF, "documents")
    plan = physical(zscore_outliers(d, "lang", "n_chars", "doc_id", z=1.5))
    # group-count-sized stats broadcast back onto the corpus rows
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_zorder_stats_codegen_single_aggregate(spark):
    from flink_example_spark.operators.layout import zorder_bucket_stats
    from flink_example_spark.plans.events_demo import load_events

    ev = load_events(spark, SF)
    plan = physical(
        zorder_bucket_stats(
            ev,
            {"uid": F.col("user_id"), "mod": (F.hour("ts") * 60 + F.minute("ts")) % 1024},
            bits=10,
            bucket_bits=6,
        )
    )
    # the 40-term Morton interleave is plain codegen expression work under
    # one partial+final aggregate — no UDF, no extra shuffle
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2
    assert "BatchEvalPython" not in plan and "shiftleft" in plan


def test_triangle_counts_broadcasts_degrees(spark):
    from flink_example_spark.operators.graph import term_graph, triangle_counts
    from flink_example_spark.tables import load_table

    pairs = term_graph(load_table(spark, SF, "documents"), min_weight=2).filter(
        F.col("src") < F.col("dst")
    )
    plan = physical(triangle_counts(pairs, "src", "dst"))
    # degree attach is broadcast (node-sized), never a corpus-sized shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_funnel_without_anti_join_no_python(spark):
    from flink_example_spark.operators.cep import funnel_without
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(
        funnel_without(
            load_events(spark, SF), ["view", "click", "purchase"], 86400,
            forbidden=["error"],
        )
    )
    # the negative condition is an anti join; forbidden-type filter pushed
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_consecutive_runs_single_window_stage(spark):
    from flink_example_spark.operators.cep import consecutive_runs
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(consecutive_runs(load_events(spark, SF), "error", 2))
    # both ROW_NUMBERs + the aggregate ride ONE key shuffle... the island
    # row_number needs a (key, __m) sort but not a second Exchange when
    # (key) partitioning is reusable; assert no Python and <= 2 exchanges
    assert plan.count("Exchange") <= 2
    assert "BatchEvalPython" not in plan


def test_apply_changelog_single_window_no_cartesian(spark):
    """CDC MERGE: one window shuffle over the CHANGES, one key equi-join
    against base — never a cartesian, no Python."""
    from datetime import datetime

    from flink_example_spark.operators.versioned import apply_changelog

    base = spark.createDataFrame([("u1", 1)], "_entity string, cnt long")
    ch = spark.createDataFrame(
        [("u1", datetime(2024, 1, 2), 1, "+U", 2)],
        "_entity string, ts timestamp, seq long, op string, cnt long",
    )
    plan = physical(apply_changelog(base, ch, "_entity", "ts", seq_col="seq"))
    assert "CartesianProduct" not in plan
    # one Window stage (rank over changes), optimized by WindowGroupLimit
    assert plan.count("Window [") == 1
    assert plan.count("WindowGroupLimit") == 2  # partial + final top-1
    assert "Python" not in plan


def test_ohlc_single_aggregation(spark):
    """OHLC bars: one hash aggregation with a map-side partial — exactly
    one Exchange (on (key, bucket)), no Window, no sort, no Python."""
    from flink_example_spark.operators.timeseries import ohlc_bars
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(
        ohlc_bars(load_events(spark, SF), "user_id", "ts", "value", seq_col="event_id")
    )
    assert plan.count("Exchange") == 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    assert "Window" not in plan and "Python" not in plan


def test_dsir_models_broadcast_back(spark):
    """DSIR scoring joins the bucket-sized model relations via broadcast —
    the corpus-bearing side never shuffles for the join."""
    from flink_example_spark.operators.curation import dsir_weights
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(dsir_weights(docs, target_pred=F.col("lang") == "en"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_mad_group_stats_broadcast(spark):
    """Both MAD passes broadcast group-grain stats back onto the rows."""
    from flink_example_spark.operators.ml import mad_outliers
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(mad_outliers(docs, "lang", "n_chars", "doc_id"))
    # med joins back twice (scoring branch + inside the MAD derivation),
    # mad once -- all broadcast, never a sort-merge over the rows
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_ahash_pairs_no_cartesian(spark):
    """Perceptual-hash pairs: pigeonhole equi-join on (chunk, value) —
    never an all-pairs cartesian."""
    from flink_example_spark.operators.multimodal import ahash_pairs

    fps = spark.createDataFrame(
        [(1, 3, 5), (2, 3, 5)], "media_id long, fp_hi long, fp_lo long"
    )
    plan = physical(ahash_pairs(fps, 3))
    assert "CartesianProduct" not in plan


def test_pq_adc_broadcasts_lut_and_semi_restricts(spark):
    """PQ scoring joins the broadcast LUT; the IVF restriction is a
    left-semi join — never a cartesian over corpus x queries."""
    from pyspark.sql import functions as F

    from flink_example_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )
    from flink_example_spark.tables import load_table

    e = load_table(spark, SF, "embeddings")
    cb = pq_codebooks(e, m=4, k_sub=8, iters=1).localCheckpoint()
    codes = pq_encode(e, cb).localCheckpoint()
    plan = physical(pq_topk(codes, cb, e.filter(F.col("vec_id") < 4), k=3))
    assert "BroadcastHashJoin" in plan
    plan2 = physical(
        ivfpq_topk(e, e.filter(F.col("vec_id") < 4), k=3, n_cells=4, n_probe=1,
                   m=4, k_sub=8, iters=1)
    )
    assert "LeftSemi" in plan2


def test_boolean_search_filters_before_aggregation(spark):
    """The broadcast term set prunes the exploded token stream BEFORE the
    aggregation — the shuffle carries posting-list rows only; one Exchange."""
    from flink_example_spark.operators.text import boolean_search
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(boolean_search(docs, ["spark", "merge"]))
    # COUNT(DISTINCT term) plans as the standard two-phase expand:
    # (doc, term) exchange then doc exchange — both posting-list sized
    assert plan.count("Exchange") == 2
    assert "Python" not in plan and "Join" not in plan


def test_phrase_search_single_window_stage(spark):
    """Positional phrase matching is ONE window stage (lead chains), not
    k-1 self-joins — exactly one Exchange on the doc key, no join at all."""
    from flink_example_spark.operators.text import phrase_search
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(phrase_search(docs, ["spark", "merge", "window"]))
    assert plan.count("Window [") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # doc-key window + final aggregation


def test_pareto_orders_is_true_skyline(spark, tmp_path):
    """Windowed skyline == brute-force dominance filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime

    from flink_example_spark.plans import relational

    base = datetime.datetime(1995, 1, 1)
    rows = [
        (1, 100.0, 10), (2, 90.0, 20), (3, 80.0, 5),  # 3 dominated by 2
        (4, 100.0, 30),                               # dominates 1
        (5, 50.0, 40), (6, 200.0, 1),
    ]
    tbl = pa.table({
        "o_orderkey": [r[0] for r in rows],
        "o_custkey": [0] * len(rows),
        "o_orderstatus": ["F"] * len(rows),
        "o_totalprice": [r[1] for r in rows],
        "o_orderdate": [base + datetime.timedelta(days=r[2]) for r in rows],
        "o_orderpriority": ["1-URGENT"] * len(rows),
    })
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    import shutil

    for t in ("region", "nation", "customer", "supplier", "part", "lineitem",
              "events", "documents", "embeddings"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    out = relational.run_sql(spark, str(tmp_path), "pareto_orders")
    got = sorted(r["o_orderkey"] for r in out.collect())
    # brute force: keep points not strictly dominated
    pts = {k: (p, d) for k, p, d in rows}
    want = sorted(
        k for k, (p, d) in pts.items()
        if not any(
            (p2 >= p and d2 >= d and (p2 > p or d2 > d))
            for k2, (p2, d2) in pts.items() if k2 != k
        )
    )
    assert got == want == [4, 5, 6]


def test_c4_operators_stay_jvm_side(spark):
    """Continuation-4 operators must plan with NO Python evaluation nodes
    — every hot path is Catalyst expressions (the §2.8 UDF rule)."""
    from flink_example_spark.operators.cep import rfm_segments
    from flink_example_spark.operators.ml import bootstrap_ci, nb_language_classifier
    from flink_example_spark.operators.timeseries import (
        cusum_changepoints,
        ewma_smooth,
    )
    from flink_example_spark.plans.events_demo import load_events
    from flink_example_spark.tables import load_table

    ev = load_events(spark, SF)
    docs = load_table(spark, SF, "documents")
    for df in (
        cusum_changepoints(ev, "event_type", "ts", "value", "event_id", h=5.0),
        ewma_smooth(ev, "user_id", "ts", "value", "event_id"),
        bootstrap_ci(ev),
        rfm_segments(ev),
        nb_language_classifier(docs),
    ):
        plan = physical(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cusum_two_window_single_shuffle(spark):
    """The prefix-scan CUSUM rewrite: both window passes share ONE
    per-key exchange (the whole point of the closed form)."""
    from flink_example_spark.operators.timeseries import cusum_changepoints
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(
        cusum_changepoints(
            load_events(spark, SF), "event_type", "ts", "value", "event_id", h=5.0
        )
    )
    # one shuffle for the key partitioning + one for the final group-by
    assert plan.count("Exchange") <= 3
    assert plan.count("Window") >= 2


def test_theta_band_join_is_bnlj(spark):
    """Pure non-equi join must plan as BroadcastNestedLoopJoin with the
    tiny band dim on the build side."""
    from flink_example_spark.plans import relational

    plan = physical(relational.run_sql(spark, SF, "theta_band_join"))
    assert "BroadcastNestedLoopJoin" in plan


def test_bootstrap_explode_then_partial_agg(spark):
    """The Poisson bootstrap must keep partial (map-side) aggregation
    under the replicate explode — the reduce side carries only
    (group x B) rows."""
    from flink_example_spark.operators.ml import bootstrap_ci
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(bootstrap_ci(load_events(spark, SF)))
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan
    assert "partial" in plan.lower()


def test_phash_dct_joins_are_broadcast(spark):
    # the 64-row cosine-basis joins must broadcast: the corpus-sized grid
    # relation never shuffles for the DCT
    from flink_example_spark.operators.multimodal import (
        encode_codec_media,
        image_phash,
    )
    from flink_example_spark.tables import load_table

    media = encode_codec_media(
        load_table(spark, SF, "documents"), formats=("pgm", "aiff")
    ).filter(F.col("media_type") == "image")
    plan = physical(image_phash(media, repartition=False))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_acf_lag_join_is_equi_not_band(spark):
    # lag pairing is an explode + equi-join on (key, bucket+k): no
    # BroadcastNestedLoopJoin / CartesianProduct may appear
    from flink_example_spark.operators.timeseries import acf
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(acf(load_events(spark, SF), "event_type", "ts", "value"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_changepoint_single_perkey_window_shuffle(spark):
    # prefix sums + totals share ONE per-key sort/shuffle; top-1 adds the
    # only other window
    from flink_example_spark.operators.timeseries import changepoint
    from flink_example_spark.plans.events_demo import load_events

    plan = physical(changepoint(load_events(spark, SF), "event_type", "ts", "value"))
    assert "CartesianProduct" not in plan
    # both cumulative windows hash-partition on the key alone
    assert plan.count("hashpartitioning(k#") >= 1


def test_link_prediction_no_cartesian_hub_capped(spark):
    from flink_example_spark.operators.graph import link_prediction, term_graph
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = physical(link_prediction(term_graph(docs, min_weight=2)))
    assert "CartesianProduct" not in plan
    # candidate generation is equi-joins (wedge on w, anti on (u, v))
    assert "LeftAnti" in plan


def test_gbm_broadcasts_the_one_row_stump(spark):
    from flink_example_spark.operators.ml import gbm_stumps
    from flink_example_spark.tables import load_table

    li = load_table(spark, SF, "lineitem")
    plan = physical(
        gbm_stumps(li, "l_extendedprice / 100", [("qty", "l_quantity", 1)], rounds=1)
    )
    # the learned stump attaches via broadcast, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_compaction_plan_single_window_no_data_shuffle(spark):
    from flink_example_spark.operators.layout import compaction_plan

    files = spark.createDataFrame(
        [(f"f{i}", 100 + i) for i in range(50)], "file_id string, bytes long"
    )
    plan = physical(compaction_plan(files, target_bytes=1000))
    # one global window (manifest-sized relation) + one hash agg
    assert plan.count("Window") == 1
    assert "PythonUDF" not in plan


def test_sprt_windows_partition_by_arm(spark):
    from pyspark.sql import functions as F

    from flink_example_spark.operators.ml import sprt
    from flink_example_spark.plans.events_demo import load_events

    ev = load_events(spark, SF).withColumn(
        "variant", F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
    )
    plan = physical(
        sprt(ev, "variant", "ts", "event_id", F.col("event_type") == "purchase")
    )
    # every window partitions by the arm — no global unpartitioned sort
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_global_rank_family_uses_two_phase_device(spark):
    """The former unpartitioned-Window.orderBy family must now rank via
    the distributed two-phase device: every data-scaled WindowExec
    declares the range-bucket partition spec (__dr_pid); the only
    unpartitioned windows left are bucket-count-sized offset merges
    (sum over __dr_n) or fixed-small relations (n_bins rows)."""
    import re

    from flink_example_spark.operators.ml import (
        calibration_bins,
        permuted_column,
        quantile_normalize,
        spearman_corr,
    )
    from flink_example_spark.operators.text import heaps_fit, zipf_fit
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    scored = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 3 == 0, 1).otherwise(-1).alias("y"),
        (F.col("n_chars") % 97).alias("m"),
    )
    plans = {
        "spearman": physical(spearman_corr(docs, "n_chars", "doc_id", "doc_id")),
        "permuted": physical(permuted_column(docs.select("doc_id", "lang"), "lang", "doc_id")),
        "qnorm": physical(quantile_normalize(ev, "event_type", "event_id", "value")),
        "calib": physical(calibration_bins(scored)),
        "zipf": physical(zipf_fit(docs)),
        "heaps": physical(heaps_fit(docs)),
    }
    for name, plan in plans.items():
        assert "rangepartitioning" in plan, name
        # every row_number/running-sum window over row data carries the
        # bucket partition spec
        for m in re.finditer(r"Window \[(row_number|sum)\(([^)]*)\)[^\n]*windowspecdefinition\(([^,)]*)", plan):
            spec_head = m.group(3)
            summed = m.group(2)
            ok = (
                spec_head.startswith("__dr_pid")      # phase-1 bucket window
                or "__dr_n" in summed                  # bucket-offset merge
                or spec_head.startswith("bin#")        # n_bins-row lag table
            )
            assert ok, (name, m.group(0))


def test_pca_outliers_topk_is_take_ordered(spark):
    """pca_outliers' top-k must plan as TakeOrderedAndProject (per-
    partition top-k, k-row merge) — the rank window runs over the k-row
    survivor set only, never the corpus."""
    from flink_example_spark.operators.similarity import pca_outliers

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(pca_outliers(emb, n_components=2, topk=5, n_iter=2))
    assert "TakeOrderedAndProject" in plan


def test_t_closeness_broadcasts_value_dimension(spark):
    from pyspark.sql import functions as F

    from flink_example_spark.operators.quality import t_closeness
    from flink_example_spark.tables import load_table

    cust = load_table(spark, SF, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000)
    )
    plan = physical(t_closeness(cust, ["c_nationkey"], "bal_band"))
    # the m-row value dimension broadcasts onto the group list
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_round8_ops_use_two_phase_device(spark):
    """Round-8 rank-based ops: every data-scaled window declares the
    range-bucket spec; the only unpartitioned windows are bucket-offset
    merges or fixed-small relations (Lorenz deciles, n-row lag tables)."""
    import re

    from flink_example_spark.operators.layout import skew_audit
    from flink_example_spark.operators.ml import roc_auc
    from flink_example_spark.operators.quality import gini_lorenz
    from flink_example_spark.operators.sketch import exact_order_stats
    from flink_example_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plans = {
        "roc_auc": physical(roc_auc(docs, "n_chars", F.col("lang") == "en", "doc_id")),
        "gini": physical(gini_lorenz(docs, "n_chars", "doc_id")),
        "order_stats": physical(
            exact_order_stats(
                ev.select(
                    F.expr("CAST(floor(value*100+0.5) AS BIGINT)").alias("vq"),
                    "event_id",
                ),
                "vq",
                "event_id",
            )
        ),
        "skew_audit": physical(skew_audit(ev, "user_id")),
    }
    for name, plan in plans.items():
        assert "rangepartitioning" in plan, name
        for m in re.finditer(
            r"Window \[(row_number|sum)\(([^)]*)\)[^\n]*windowspecdefinition\(([^,)]*)",
            plan,
        ):
            spec_head, summed = m.group(3), m.group(2)
            ok = (
                spec_head.startswith("__dr_pid")
                or "__dr_n" in summed
                or spec_head.startswith("bucket#")  # n_buckets-row Lorenz cumsum
            )
            assert ok, (name, m.group(0))


def test_join_cardinality_counts_only_no_cartesian(spark):
    """The cardinality prediction joins KEY-COUNT relations, never data
    rows: no cartesian, and the top-n is TakeOrderedAndProject."""
    from flink_example_spark.operators.layout import join_cardinality
    from flink_example_spark.tables import load_table

    plan = physical(
        join_cardinality(
            load_table(spark, SF, "orders"),
            load_table(spark, SF, "lineitem"),
            "o_orderkey",
            "l_orderkey",
        )
    )
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_scan_pruning_eval_broadcasts_predicates(spark):
    """Pruning evaluation: the bucket-stat relation is tiny and the
    predicate table broadcasts — no sort-merge join anywhere."""
    from flink_example_spark.operators.layout import scan_pruning_eval

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = physical(
        scan_pruning_eval(
            ev,
            {
                "uid": F.col("user_id"),
                "mod": (F.hour("ts") * 60 + F.minute("ts")) % 1024,
            },
            [("q1", "uid", 0, 9)],
            bits=10,
            bucket_bits=6,
        )
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_psi_drift_single_bucket_aggregation(spark):
    """PSI: one map-side-combined bucket aggregation; no Python, no
    cartesian beyond the one-row totals broadcast."""
    from flink_example_spark.operators.ml import psi_drift

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = physical(
        psi_drift(ev, F.col("event_type") == "error", "value", width=25)
    )
    assert "partial" in plan.lower()
    assert "Python" not in plan


def test_pair_graph_stats_no_cartesian_partitioned_windows(spark):
    """Transitivity audit: the neighbor-truncation window partitions by
    the node (never a global ordering), and nothing plans cartesian or
    drops into Python."""
    from flink_example_spark.operators.dedup import pair_graph_stats

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        "doc_a long, doc_b long",
    )
    plan = physical(pair_graph_stats(pairs))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    import re

    for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan):
        assert m.group(1).startswith("u#"), m.group(0)


def test_ktruss_broadcasts_degrees_no_cartesian(spark):
    """k-truss: per-round degree attachment broadcasts (node-sized dims);
    the wedge join is an equi-join on the oriented source — no cartesian,
    no Python."""
    from flink_example_spark.operators.graph import ktruss

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    plan = physical(ktruss(pairs, k=3, n_rounds=1))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_compression_signal_spreads_before_python(spark):
    """The zlib stage must be preceded by the explicit-count hash
    repartition (AQE never coalesces REPARTITION_BY_NUM) so a single-file
    scan cannot serialize the per-row work."""
    from flink_example_spark.operators.text import compression_signal

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = physical(compression_signal(docs))
    assert "MapInPandas" in plan
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(doc_id" in plan


def test_logistic_scoring_is_stateless_projection(spark):
    """Serving must not shuffle: the scored relation plans as a pure
    projection over the scan (plus the feature expressions) — no
    exchange, no Python."""
    from flink_example_spark.operators.ml import logistic_score

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.lit(3).cast("long").alias("en_hits"),
        F.lit(2).cast("long").alias("len_b"),
    )
    plan = physical(
        logistic_score(docs, [-100000, 50000, 20000], ["en_hits", "len_b"], "doc_id")
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_densest_subgraph_broadcasts_survivors(spark):
    """Each peel round semi-joins the edge set against the (shrinking)
    survivor list via broadcast; no cartesian, no Python."""
    from flink_example_spark.operators.graph import densest_subgraph

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    plan = physical(densest_subgraph(pairs, n_rounds=1))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_partitioned_read_prunes_directories(spark):
    """A lang filter on a lang-partitioned table must reach the scan as a
    partition filter (directory pruning), not a post-scan filter."""
    import os
    import shutil
    import tempfile

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    tmp = tempfile.mkdtemp(prefix="plan_part_")
    try:
        docs.write.mode("overwrite").partitionBy("lang").parquet(tmp + "/p")
        back = spark.read.parquet(tmp + "/p").filter(F.col("lang") == "en")
        plan = physical(back)
        assert "PartitionFilters: [isnotnull(lang" in plan or (
            "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
        )
        # only the en directory is listed
        listed = [d for d in os.listdir(tmp + "/p") if d.startswith("lang=")]
        assert "lang=en" in listed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cox_risk_uses_two_phase_cumsum(spark):
    """The Cox at-risk closure must rank via the distributed two-phase
    device (range-bucketed cumsum), not an unpartitioned window over the
    time relation; no cartesian beyond the one-row totals broadcast."""
    from flink_example_spark.operators.timeseries import _cox_risk

    rows = [(d, 1, d % 2) for d in range(1, 40)]
    u = spark.createDataFrame(rows, "t long, d long, x long")
    plan = physical(_cox_risk(u))
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan


def test_key_skew_uses_two_phase_device(spark):
    """quality.key_skew_report ranks a DATA-SCALED relation (one row per
    key); the rank must ride the distrank range-bucket device — the only
    unpartitioned window allowed is the bucket-offset merge."""
    import re

    from flink_example_spark.operators.quality import key_skew_report
    from flink_example_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    plan = physical(key_skew_report(ev, "user_id", "events"))
    assert "rangepartitioning" in plan
    for m in re.finditer(
        r"Window \[(row_number|sum)\(([^)]*)\)[^\n]*windowspecdefinition\(([^,)]*)",
        plan,
    ):
        spec_head, summed = m.group(3), m.group(2)
        ok = spec_head.startswith("__dr_pid") or "__dr_n" in summed
        assert ok, m.group(0)


def test_gbm_argmin_is_take_ordered(spark):
    """The GBM split-search argmin (the shared ``_argmin1`` helper both
    gbm_stumps and gbm_stumps_eval call per round) compiles to
    TakeOrderedAndProject (a 1-row heap per partition), never a
    single-task row_number sort over the candidate-cut relation. The
    returned round tables hide the argmin behind per-round
    localCheckpoints, so the helper is pinned directly; that both GBM
    sites use it is a source-level fact (no Window.orderBy remains in
    either loop)."""
    import inspect

    from flink_example_spark.operators import ml
    from flink_example_spark.operators.ml import _argmin1
    from flink_example_spark.tables import load_table

    scored = (
        load_table(spark, SF, "documents")
        .select(
            F.col("n_chars").cast("double").alias("cost"),
            F.col("lang").alias("feat"),
            F.col("doc_id").alias("xq"),
        )
    )
    plan = physical(_argmin1(scored, ["cost", "feat", "xq"], ["feat", "xq"]))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window [row_number" not in plan
    # and the GBM loops actually route through the helper
    for fn in (ml.gbm_stumps, ml.gbm_stumps_eval):
        src = inspect.getsource(fn)
        assert "_argmin1(" in src
        assert "Window.orderBy" not in src


def test_cox_multi_risk_uses_two_phase_cumsum(spark):
    """cox_fit_multi's at-risk closure must ride the range-bucketed
    dist_cumsum (ONE pass for ALL strata columns), never an
    unpartitioned or per-stratum window over distinct times."""
    import re

    from flink_example_spark.operators.timeseries import _cox_multi_risk

    rows = [(d % 19 + 1, (d % 3 != 0) * 1, d % 4) for d in range(80)]
    u = spark.createDataFrame(rows, "t long, d long, s long")
    plan = physical(_cox_multi_risk(u, 4))
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(
        r"Window \[(row_number|sum)\(([^)]*)\)[^\n]*windowspecdefinition\(([^,)]*)",
        plan,
    ):
        spec_head, summed = m.group(3), m.group(2)
        assert spec_head.startswith("__dr_pid") or "__dr_n" in summed, m.group(0)


def test_substring_dedup_shuffles_hashed_gram_key(spark):
    """substring_spans_dedup's shingle shuffle must carry xxhash64(gram)
    (8 bytes), never the ~k-word gram string — the operator's 100 TB
    cost center (VERDICT-r13 item 1; shared_spans(hashed=True)
    precedent). The gram string may exist only inside the projection
    that hashes it; no exchange partitions on it."""
    from flink_example_spark.operators.dedup import substring_spans_dedup

    rows = [
        (i, " ".join("w%d" % ((i * 5 + j) % 11) for j in range(12)))
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plan = physical(substring_spans_dedup(docs, k=3))
    assert "xxhash64" in plan
    assert "partitioning(__h" in plan  # the hashed key is the shuffle key
    assert "partitioning(__g" not in plan  # the string gram never ships


def test_ks_read_uses_two_phase_cumsum(spark):
    """ks_drift's cumulative sums must ride the range-bucketed
    dist_cumsum (round-8 device) — never an unpartitioned window over
    the per-value count relation, whose cardinality approaches row
    count for continuous metrics at scale=1e6 (VERDICT-r13 item 2).
    Every window in the plan is either __dr_pid-partitioned or the
    bucket-count-sized offset prefix (summing a __dr_n_* column)."""
    import re
    from datetime import datetime, timezone

    from flink_example_spark.operators.ml import ks_drift

    rows = [
        (
            datetime.fromtimestamp(86400 * (i % 30), tz=timezone.utc)
            .replace(tzinfo=None),
            float(i % 17) + 0.25,
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    plan = physical(ks_drift(df, split_ts="1970-01-16 00:00:00"))
    assert "rangepartitioning" in plan
    assert "CartesianProduct" not in plan  # totals ride a broadcast join
    for m in re.finditer(
        r"Window \[(row_number|sum)\(([^)]*)\)[^\n]*windowspecdefinition\(([^,)]*)",
        plan,
    ):
        spec_head, summed = m.group(3), m.group(2)
        assert spec_head.startswith("__dr_pid") or "__dr_n" in summed, m.group(0)


def test_dpo_pairs_is_one_aggregation(spark):
    """dpo_pairs must compile to a single partial-aggregated hash
    aggregation — no window (the arg-extremes are min_by/max_by monoids
    on the composite string key) and no join."""
    from flink_example_spark.operators.preference import dpo_pairs

    rows = [(i % 5, i, (i * 7) % 40) for i in range(60)]
    df = spark.createDataFrame(
        rows, "prompt_id long, completion_id long, score long"
    )
    plan = physical(dpo_pairs(df))
    assert "WindowExec" not in plan and "Window [" not in plan
    assert "Join" not in plan
    assert "partial_" in plan  # map-side combine of the monoid


def test_fleiss_windows_are_item_partitioned(spark):
    """fleiss_kappa's only window is the keep-first-n row_number, and it
    must be partitioned by item (never a single-task global sort); the
    moment branches read the checkpointed item-sized relations, so the
    final DAG carries no recomputed windows at all."""
    from flink_example_spark.operators.preference import fleiss_kappa

    rows = [(i % 9, ["a", "b", "c"][i % 3], i) for i in range(90)]
    df = spark.createDataFrame(rows, "item long, cat string, seq long")
    plan = physical(fleiss_kappa(df, n_raters=4))
    # the two localCheckpoints already materialized the windowed scan:
    # nothing window-shaped may survive into the read-time plan
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan


def test_ips_snips_is_one_aggregation(spark):
    """The OPE report must compile to a single partial-aggregated hash
    aggregation — all five sums are one monoid pass; no window, no
    join, no second scan."""
    from flink_example_spark.operators.policy import ips_snips

    rows = [(i % 4, i % 3, 250_000, (i + 1) % 3, i % 2) for i in range(60)]
    df = spark.createDataFrame(
        rows, "x long, a long, p_micro long, a_target long, reward long"
    )
    plan = physical(ips_snips(df))
    assert "WindowExec" not in plan and "Window [" not in plan
    assert "Join" not in plan
    assert "partial_" in plan  # map-side combine of the five sums


def test_rater_quality_windows_are_item_partitioned(spark):
    """rater_quality's only window is the per-item top-2 rank — it must
    stay item-partitioned (vocabulary-bounded), never a global sort, and
    the scoring joins must not degenerate to a cartesian product."""
    from flink_example_spark.operators.preference import rater_quality

    rows = [(i % 7, i % 5, ["a", "b", "c"][i % 3]) for i in range(70)]
    df = spark.createDataFrame(rows, "item long, rater long, cat string")
    plan = physical(rater_quality(df))
    assert "CartesianProduct" not in plan
    import re
    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start():m.start() + 400]
        assert "item" in seg  # partitioned, not global


def test_switchback_is_two_aggregations_no_join(spark):
    """ab_switchback must compile to the bucket monoid aggregation plus
    the arm rollup — both partial-aggregated, no window, no join (the
    bucket-mean read is a projection between the two)."""
    from datetime import datetime, timezone

    from flink_example_spark.operators.ml import ab_switchback

    rows = [
        (
            datetime.fromtimestamp(
                k * 3600 + m * 60, tz=timezone.utc
            ).replace(tzinfo=None),
            float(k % 5),
        )
        for k in range(20)
        for m in (5, 30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    plan = physical(ab_switchback(df))
    assert "WindowExec" not in plan and "Window [" not in plan
    assert "Join" not in plan
    assert "partial_" in plan  # map-side combine of the monoid


def test_cluster_lift_is_two_aggregations_no_join(spark):
    """ab_cluster_lift: one key-partitioned per-cluster aggregation +
    one arm rollup — no window, no join, partials present."""
    from flink_example_spark.operators.ml import ab_cluster_lift

    rows = [(k, float((k * 13) % 7)) for k in range(40) for _ in range(3)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    plan = physical(ab_cluster_lift(df))
    assert "WindowExec" not in plan and "Window [" not in plan
    assert "Join" not in plan
    assert "partial_" in plan


def test_sndr_broadcasts_context_model(spark):
    """sndr_value's scoring join must broadcast the context-sized q
    table (never shuffle the log relation for it), like dr_value."""
    from flink_example_spark.operators.policy import sndr_value

    rows = [(i % 4, i % 3, 250_000, (i + 1) % 3, i % 2) for i in range(60)]
    df = spark.createDataFrame(
        rows, "x long, a long, p_micro long, a_target long, reward long"
    )
    plan = physical(sndr_value(df))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_substring_spans_is_join_not_cartesian(spark):
    """dedup_substring_spans: the shingle shuffle + two equi-joins
    (gram->canonical, flagged->tokens) — never a cartesian/BNLJ
    all-pairs plan; the per-doc surgery stays in windows."""
    from flink_example_spark.operators.dedup import substring_spans_dedup

    rows = [(i, " ".join(f"t{j % 30}x{(i * j) % 11}" for j in range(40)))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = physical(substring_spans_dedup(df, k=10))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dyadic_quantiles_single_udaf_aggregation(spark):
    """sketch_dyadic_quantiles: ONE JVM bounded-state aggregation (the
    partial_ mode below the exchange) feeding sketch-sized windows —
    no joins anywhere."""
    from flink_example_spark.operators.sketch import dyadic_quantiles

    rows = [("g", float(i % 97)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    plan = physical(dyadic_quantiles(df, "g", "v", k=64))
    assert "partial_dyadic_hist64" in plan
    assert "Join" not in plan


def test_backfill_pipeline_one_exchange_one_sort_no_window(spark):
    """The backfill pass is one scan, one shuffle on ``user_id``, one sort on
    ``user_id`` alone and one per-entity fold: no window, and none of the
    three-scan, five-shuffle composed plan."""
    from flink_example_spark.plans.events_demo import pipeline

    plan = physical(pipeline(spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    assert plan.count("MapPartitions") == 1
    assert plan.count("Window [") == 0
    sort_keys = re.findall(r"Sort \[([^\]]*)\]", plan)
    assert len(sort_keys) == 1
    assert re.fullmatch(r"user_id#\d+L? ASC NULLS FIRST", sort_keys[0])


def test_shuffle_partitions_hold_around_the_backfill(spark):
    """A partition count scoped with ``session.shuffle_partitions`` holds
    through ``pipeline``: loading the events does not re-apply the
    session's runtime confs."""
    from flink_example_spark.plans.events_demo import pipeline
    from flink_example_spark.session import shuffle_partitions

    with shuffle_partitions(spark, 7):
        plan = physical(pipeline(spark, SF))
        assert re.search(r"hashpartitioning\(user_id#\d+L?, 7\)", plan)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
