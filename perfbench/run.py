"""Point-in-time feature benchmark: backfill, as-of lookups and streaming replay.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Generates a seeded event log in the harness ``events`` schema, starts one
Spark session on ``local[<cores>]`` with the program's default settings,
runs the workload's closed loop for ``--seconds``, checks every output
against the DuckDB twins, and prints one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see README.md). Every file the run writes stays under
``perfbench/.work`` and ``perfbench/out`` in the checkout it runs from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

SPAN_DAYS = 30
# Log shape per workload: uniform entities, 5 event types at equal shares.
SIZES = {
    "backfill": dict(n_events=4_000_000, n_entities=250_000),
    "lookup": dict(n_events=4_000_000, n_entities=250_000),
}
# The traced run's streaming replay: its cost is mostly fixed per micro-batch.
STREAM_SIZE = dict(n_events=200_000, n_entities=20_000)
WARM_SIZE = dict(n_events=50_000, n_entities=5_000)

E2E_UNITS = {"setup_s": "s", "op_ms_p50": "ms"}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "tables.scan_s": "s",
    "tables.scan_rows_per_s": "1/s",
    "versioned.history_s": "s",
    "versioned.history_rows": "count",
    "versioned.shuffle_write_mb": "MB",
    "versioned.snapshot_ms_p50": "ms",
    "versioned.rows_scanned_per_row_returned": "ratio",
    "training.examples_s": "s",
    "training.examples_rows": "count",
    "asof.backfill_join_s": "s",
    "asof.shuffle_write_mb": "MB",
    "asof.spill_mb": "MB",
    "asof.lookup_ms_p50": "ms",
    "asof.plan_ms_p50": "ms",
    "asof.jobs_per_request": "count",
    "asof.rows_in_per_row_out": "ratio",
    "sinks.write_s": "s",
    "e2e.stage_s": "s",
    "e2e.events_per_s": "1/s",
    "e2e.data_batch_ms_p50": "ms",
    "e2e.batch_planning_ms_p50": "ms",
    "e2e.batch_add_ms_p50": "ms",
    "e2e.batch_commit_ms_p50": "ms",
    "e2e.state_commit_ms_p50": "ms",
    "e2e.overhead_batch_ms": "ms",
    "e2e.state_rows_total": "count",
    "e2e.state_memory_mb": "MB",
    "trace.overhead_pct": "%",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to_checkout(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # PerfDisableSharedMem keeps the JVM's perf data in memory; it would
    # otherwise go to /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem"])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def box_state() -> dict:
    """Load and CPU speed before the run, for attribution only."""
    import bench

    return {"loadavg": list(os.getloadavg()), "canary_s": bench._canary_sec(reps=1)}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # subprocess.TimeoutExpired: the JVM ignored EOF
        proc.kill()
        proc.wait(timeout=60)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    # Fails before any work when the program is not next to the benchmark.
    import flink_example_spark  # noqa: F401

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    confine_to_checkout(run_dir)
    os.makedirs(OUT, exist_ok=True)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    import gen
    import workloads
    from gate import Gate
    from tracing import Tracer

    from pyspark import SparkContext

    from flink_example_spark.session import get_spark

    size = SIZES[args.workload]
    t_start = time.perf_counter()
    box = {"before": box_state()}

    def make_log(name: str, n_events: int, n_entities: int) -> tuple[str, str]:
        sf = os.path.join(run_dir, name)
        return sf, gen.write_events(gen.make_events(args.seed, n_events, n_entities, SPAN_DAYS), sf)

    sf_dir, events_path = make_log("sf", **size)
    warm_sf_dir, _ = make_log("sf_warm", **WARM_SIZE)

    phases = {"box_and_gen_s": time.perf_counter() - t_start}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, gate=Gate(events_path), sf_dir=sf_dir,
            warm_sf_dir=warm_sf_dir, warm_entities=WARM_SIZE["n_entities"], run_dir=run_dir,
            seed=args.seed, seconds=args.seconds, span_days=SPAN_DAYS, **size,
        )
        res = workloads.Result(setup_s=get_spark_s)
        res.layers["session.get_spark_s"] = get_spark_s
        workloads.WORKLOADS[args.workload](ctx, res)
        phases["workload_s"] = time.perf_counter() - t0
        phases["gate_s"] = res.gate_s
        if args.trace:
            loop_wall = sum(res.ops_s)
            loop_self = tracer.self_s
            workloads.sweep_batch(ctx, res)
            if args.workload != "lookup":
                workloads.sweep_lookup(ctx, res)
            stream_sf, stream_events = make_log("sf_stream", **STREAM_SIZE)
            workloads.sweep_stream(ctx, res, stream_sf, STREAM_SIZE["n_events"], Gate(stream_events))
            res.layers["trace.overhead_pct"] = 100.0 * loop_self / loop_wall
        res.layers["session.peak_rss_mb"] = vm_hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
    phases["total_s"] = time.perf_counter() - t_start
    box["loadavg_after"] = list(os.getloadavg())

    e2e = {
        "setup_s": res.setup_s,
        "op_ms_p50": statistics.median(res.ops_s) * 1000.0 if res.ops_s else 0.0,
    }
    values, units = (res.layers, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    result = {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": size, "box": box, "phases": phases,
        "warm_ops_s": res.warm_ops_s, "ops_s": res.ops_s,
        "end_to_end": e2e, "layers": res.layers, "result": result,
    }
    side_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            side["overhead_vs_untraced"] = {k: e2e[k] / base[k] - 1.0 for k in e2e if base[k]}
    tracer.dump(side_path, side)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
