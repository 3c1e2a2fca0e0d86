"""Streaming dedup-on-ingest: the running aggregate must converge exactly
to the batch exact_dedup relation."""

from __future__ import annotations

from flink_example_spark.operators.dedup import exact_dedup
from flink_example_spark.streaming.dedup_stream import run_streaming_exact_dedup
from flink_example_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def test_streaming_exact_dedup_converges_to_batch(spark):
    batch = exact_dedup(load_table(spark, SF, "documents"))
    streamed = run_streaming_exact_dedup(spark, SF, chunks=3)
    got = {(r["doc_id"], r["content_md5"], r["n_copies"]) for r in streamed.collect()}
    exp = {(r["doc_id"], r["content_md5"], r["n_copies"]) for r in batch.collect()}
    assert got == exp and len(got) > 0


def test_streaming_ppjoin_equals_batch(spark):
    """The live prefix index replayed over sf0.001 must emit EXACTLY the
    batch PPJoin pair set (also proves the minimal-common-prefix-token
    rule emits each pair exactly once: any double emission would show up
    as a row-count mismatch)."""
    from flink_example_spark.operators.dedup import ppjoin_pairs
    from flink_example_spark.streaming.dedup_stream import run_streaming_ppjoin
    from flink_example_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["id_a"], r["id_b"], r["inter"], r["size_a"], r["size_b"])
        for r in ppjoin_pairs(
            load_table(spark, sf, "documents"), threshold_num=4, threshold_den=5
        ).collect()
    }
    live_rows = run_streaming_ppjoin(
        spark, sf, threshold_num=4, threshold_den=5
    ).collect()
    live = {
        (r["id_a"], r["id_b"], r["inter"], r["size_a"], r["size_b"])
        for r in live_rows
    }
    assert len(live_rows) == len(live)  # exactly-once emission
    assert live == batch


def test_fourth_wave_twins_chunk_invariant(spark):
    """The four fourth-wave monoid twins converge to identical results
    under different replay chunkings (chunks=1: one micro-batch; 2:
    arbitrary split) — the arrival-order-invariance claim behind sharing
    the batch oracles."""
    from flink_example_spark.streaming.dedup_stream import (
        run_streaming_template_mining,
    )
    from flink_example_spark.streaming.ml_stream import run_streaming_psi

    sf = "/root/testdata/sf0.001"

    def rows(df):
        # NULL-safe sort: the psi summary row carries a NULL bucket
        return sorted(
            map(tuple, df.collect()),
            key=lambda t: tuple((v is None, v if v is not None else 0) for v in t),
        )

    assert rows(run_streaming_psi(spark, sf, chunks=1)) == rows(
        run_streaming_psi(spark, sf, chunks=2)
    )
    assert rows(run_streaming_template_mining(spark, sf, chunks=1)) == rows(
        run_streaming_template_mining(spark, sf, chunks=2)
    )


def test_streaming_substring_dedup_converges_to_batch(spark):
    """The live substring-dedup twin (gram state as one update-mode
    monoid aggregation, span surgery at read) replays to the
    bit-identical batch surgery."""
    from flink_example_spark.operators.dedup import substring_spans_dedup
    from flink_example_spark.streaming.dedup_stream import (
        run_streaming_substring_dedup,
    )
    from flink_example_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    live = sorted(
        tuple(r) for r in run_streaming_substring_dedup(spark, sf).collect()
    )
    batch = sorted(
        tuple(r)
        for r in substring_spans_dedup(
            load_table(spark, sf, "documents")
        ).collect()
    )
    assert live == batch
