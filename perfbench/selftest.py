"""Self-test of the benchmark at a tiny size (about two minutes).

    python3 perfbench/selftest.py

Checks that the generator is deterministic per seed and keeps
``(user_id, ts)`` unique, that a run prints every metric named in
``BENCHMARK.json`` with its unit in both modes, and that the correctness
gate rejects deliberately perturbed outputs. Exits non-zero on failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402

TINY = dict(n_events=20_000, n_entities=2_000)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def test_generator() -> None:
    a, b = gen.make_events(7, span_days=30, **TINY), gen.make_events(7, span_days=30, **TINY)
    check(a.equals(b), "same seed gives the same log")
    check(not a.equals(gen.make_events(8, span_days=30, **TINY)), "another seed gives another log")
    keys = set(zip(a.column("user_id").to_pylist(), a.column("ts").to_pylist()))
    check(len(keys) == a.num_rows, "(user_id, ts) is unique")


def test_metrics_printed() -> None:
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run.SIZES = {w: TINY for w in run.SIZES}
    run.WARM_SIZE = run.STREAM_SIZE = TINY
    workloads.WARM_PASSES = workloads.WARM_ROUNDS = 1
    for workload in sorted(run.SIZES):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                               "--trace", str(trace)])
            result = json.loads(out.getvalue().strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(rc == 0 and result["correct"] and result["failed"] == 0,
                  f"{workload} trace={trace} runs correct")
            check(got == want, f"{workload} trace={trace} prints every {key} metric with its unit")


def test_gate_rejects_perturbed() -> None:
    from datetime import datetime

    from pyspark.sql import functions as F

    from gate import Gate

    from flink_example_spark.plans import events_demo
    from flink_example_spark.session import get_spark
    from flink_example_spark.sinks import write_parquet

    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    run.confine_to_checkout(work)
    try:
        events = gen.write_events(gen.make_events(5, span_days=30, **TINY), os.path.join(work, "sf"))
        gate = Gate(events)
        spark = get_spark("perfbench-selftest")
        try:
            out = events_demo.pipeline(spark, os.path.dirname(events)).localCheckpoint()
            good, bad = os.path.join(work, "good"), os.path.join(work, "bad")
            write_parquet(out, good)
            check(gate.parquet_ok(good), "gate accepts the program's backfill output")
            first = out.orderBy("_entity", "_prediction_time").first()
            perturbed = out.withColumn(
                "loss_value",
                F.when(
                    (F.col("_entity") == first["_entity"])
                    & (F.col("_prediction_time") == first["_prediction_time"]),
                    F.col("loss_value") + 0.01,
                ).otherwise(F.col("loss_value")),
            )
            write_parquet(perturbed, bad)
            check(not gate.parquet_ok(bad, full=False), "row-hash sum rejects one changed value")
            check(not gate.parquet_ok(bad), "exact compare rejects one changed value")
            pdf = out.toPandas()
            check(gate.frame_ok(pdf), "gate accepts the program's frame")
            check(not gate.frame_ok(pdf.iloc[1:]), "gate rejects a frame missing a row")
        finally:
            run.stop_spark(spark)
        probe = [(first["_entity"], datetime(2024, 1, 31))]
        gate.feature_history()
        (want,) = gate.con.execute(
            "SELECT ?, ?, max_by(loss_value, _change_time) FROM fh WHERE _entity = ?",
            [probe[0][0], probe[0][1], probe[0][0]],
        ).fetchall()
        check(gate.asof_ok(probe, [want]), "gate accepts a correct as-of response")
        check(not gate.asof_ok(probe, [(want[0], want[1], (want[2] or 0) + 1)]),
              "gate rejects a wrong as-of value")
        check(not gate.asof_ok(probe, [want, want]), "gate rejects two rows for one probe")
        snap = gate.con.execute(
            "SELECT _entity, _change_time, loss_value FROM fh WHERE _entity = ? "
            "AND _change_time <= TIMESTAMP '2024-01-31' ORDER BY _change_time DESC LIMIT 1",
            [first["_entity"]],
        ).fetchall()
        check(gate.snapshot_ok([first["_entity"]], "2024-01-31", snap), "gate accepts a correct snapshot")
        check(not gate.snapshot_ok([first["_entity"]], "2024-01-31", []),
              "gate rejects a snapshot missing an entity")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    test_generator()
    test_gate_rejects_perturbed()
    test_metrics_printed()
    print("selftest passed")
