"""The workloads and the traced layer sweep.

Every workload drives the program's public functions from outside, on the
log ``gen.py`` wrote, and returns a :class:`Result`. Each workload has a
set-up part (timed once, into ``setup_s``), a measured closed loop of
operations that runs for ``--seconds``, and a correctness gate that runs
after the loop, outside the timed region.

- ``backfill``: the op is one full ``plans.events_demo.pipeline`` pass
  written with ``sinks.write_parquet``.
- ``lookup``: the op is one lookup round of a single client: an
  ``asof_join`` of 64 random (entity, instant) probes, then a
  ``snapshot_at`` of 64 random entities as of a random day, both against a
  feature history materialized to parquet during set-up.

The traced run adds the layer sweep: each batch layer's public function
timed on inputs already materialized with ``localCheckpoint``, so the time
is the layer's own; the lookup requests when the workload is ``backfill``;
and one bounded replay of the fused six-operator ``streaming.e2e`` pipeline
by ``run_streaming_pipeline_e2e`` on a smaller log of its own, read through a
``StreamingQueryListener`` and checked against the same batch twin.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from flink_example_spark.operators.asof import asof_join
from flink_example_spark.operators.versioned import snapshot_at
from flink_example_spark.plans import events_demo
from flink_example_spark.plans.training import training_examples
from flink_example_spark.sinks import write_parquet
from flink_example_spark.streaming.e2e import run_streaming_pipeline_e2e
from flink_example_spark.tables import load_table, normalize_ts

PROBES = 64  # probes per as-of request, entities per snapshot request
CHUNKS = 2  # arrival chunks of a stream replay
WAVES = 3  # sentinel waves that flush the replay's watermarks
SWEEP_REQUESTS = 6  # requests of each lookup type in a layer sweep
# Ops run on the small warm-up log during set-up, for the JIT and heap
# sizing, before one op on the main log. Lookup rounds keep getting faster
# for ~15 rounds; a backfill pass on the main log is slow only the first time.
WARM_PASSES = 5
WARM_ROUNDS = 15
START = datetime(2024, 1, 1)
MB = 1e6


@dataclass
class Ctx:
    spark: object
    tracer: object
    gate: object
    sf_dir: str
    warm_sf_dir: str  # a small log of the same shape, for warm-up ops
    warm_entities: int
    run_dir: str
    seed: int
    seconds: float
    n_events: int
    n_entities: int
    span_days: int


@dataclass
class Result:
    setup_s: float = 0.0
    ops_s: list = field(default_factory=list)
    warm_ops_s: list = field(default_factory=list)  # warm-up ops on the small log
    attempted: int = 0
    failed: int = 0
    gate_s: float = 0.0
    layers: dict = field(default_factory=dict)


def _timed(tracer, name, fn):
    """(seconds, value, span) of ``fn()`` under a tracer span."""
    with tracer.span(name) as rec:
        t0 = time.perf_counter()
        value = fn()
        dt = time.perf_counter() - t0
    return dt, value, rec


# --------------------------------------------------------------------------- backfill


def backfill(ctx: Ctx, res: Result) -> None:
    spark, sf = ctx.spark, ctx.sf_dir
    t0 = time.perf_counter()
    for i in range(WARM_PASSES):
        t1 = time.perf_counter()
        write_parquet(events_demo.pipeline(spark, ctx.warm_sf_dir), os.path.join(ctx.run_dir, "warm"))
        res.warm_ops_s.append(time.perf_counter() - t1)
    write_parquet(events_demo.pipeline(spark, sf), os.path.join(ctx.run_dir, "warm"))
    res.setup_s += time.perf_counter() - t0

    outputs = []
    start = time.perf_counter()
    while not outputs or time.perf_counter() - start < ctx.seconds:
        path = os.path.join(ctx.run_dir, f"pass_{len(outputs)}")
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("backfill.pass"):
                write_parquet(events_demo.pipeline(spark, sf), path)
        except Exception as e:  # a failed pass counts against the run, the loop goes on
            print(f"backfill pass failed: {e!r}", flush=True)
            res.failed += 1
            continue
        dt = time.perf_counter() - t0
        res.ops_s.append(dt)
        outputs.append(path)
    t0 = time.perf_counter()
    res.failed += sum(
        not ctx.gate.parquet_ok(p, full=i == len(outputs) - 1) for i, p in enumerate(outputs)
    )
    res.gate_s += time.perf_counter() - t0


# --------------------------------------------------------------------------- lookup


class Lookups:
    """One client's request stream against the feature history of the log in
    ``sf_dir``, materialized to parquet on first use."""

    def __init__(self, ctx: Ctx, sf_dir: str, n_entities: int, rng: random.Random):
        self.ctx, self.rng, self.n_entities = ctx, rng, n_entities
        path = os.path.join(sf_dir, "fh")
        if not os.path.exists(path):
            ev = events_demo.load_events(ctx.spark, sf_dir)
            write_parquet(events_demo.feature_history(ev), path)
        self.fh = ctx.spark.read.parquet(path)
        self.span_us = ctx.span_days * 86_400_000_000

    def asof(self):
        probes = [
            (self.rng.randrange(self.n_entities),
             START + timedelta(microseconds=self.rng.randrange(self.span_us)))
            for _ in range(PROBES)
        ]
        p = self.ctx.spark.createDataFrame(probes, "_entity long, _probe_time timestamp_ntz")
        rows = asof_join(p, self.fh, on="_entity", probe_time="_probe_time").collect()
        return ("asof", probes, [tuple(r) for r in rows])

    def snapshot(self):
        ents = self.rng.sample(range(self.n_entities), PROBES)
        day = (START + timedelta(days=self.rng.randrange(1, self.ctx.span_days + 1))).date().isoformat()
        hist = self.fh.filter(F.col("_entity").isin(ents))
        rows = snapshot_at(hist, "_entity", day).collect()
        return ("snapshot", (ents, day), [tuple(r) for r in rows])


def _check(ctx: Ctx, responses) -> int:
    """Number of responses the gate rejects."""
    bad = 0
    for kind, request, rows in responses:
        if kind == "asof":
            bad += not ctx.gate.asof_ok(request, rows)
        else:
            bad += not ctx.gate.snapshot_ok(request[0], request[1], rows)
    return bad


def _lookup_layers(tracer, res: Result) -> None:
    """Per-layer lookup figures from the traced request spans."""
    asof, snap = tracer.of("asof.request"), tracer.of("versioned.snapshot")
    res.layers["asof.lookup_ms_p50"] = statistics.median(s["ms"] for s in asof)
    res.layers["asof.plan_ms_p50"] = statistics.median(s["first_job_ms"] or 0.0 for s in asof)
    res.layers["asof.jobs_per_request"] = statistics.mean(s["jobs"] for s in asof)
    res.layers["asof.rows_in_per_row_out"] = sum(s["shuffle_read_records"] for s in asof) / max(
        1, sum(s["rows_out"] for s in asof)
    )
    res.layers["versioned.snapshot_ms_p50"] = statistics.median(s["ms"] for s in snap)
    res.layers["versioned.rows_scanned_per_row_returned"] = sum(
        s["input_records"] for s in snap
    ) / max(1, sum(s["rows_out"] for s in snap))


def _request(tracer, name, fn):
    dt, out, rec = _timed(tracer, name, fn)
    rec.update(ms=dt * 1000.0, rows_out=len(out[2]))
    return dt, out


def lookup(ctx: Ctx, res: Result) -> None:
    t0 = time.perf_counter()
    rng = random.Random(ctx.seed)
    warm = Lookups(ctx, ctx.warm_sf_dir, ctx.warm_entities, rng)
    for _ in range(WARM_ROUNDS):
        t1 = time.perf_counter()
        warm.asof(), warm.snapshot()
        res.warm_ops_s.append(time.perf_counter() - t1)
    lk = Lookups(ctx, ctx.sf_dir, ctx.n_entities, rng)
    lk.asof(), lk.snapshot()
    res.setup_s += time.perf_counter() - t0

    responses = []
    start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - start < ctx.seconds:
        n += 1
        res.attempted += 2
        try:
            da, a = _request(ctx.tracer, "asof.request", lk.asof)
            ds, s = _request(ctx.tracer, "versioned.snapshot", lk.snapshot)
        except Exception as e:  # a failed round counts against the run, the loop goes on
            print(f"lookup round failed: {e!r}", flush=True)
            res.failed += 2
            continue
        res.ops_s.append(da + ds)
        responses += [a, s]
    t0 = time.perf_counter()
    res.failed += _check(ctx, responses)
    res.gate_s += time.perf_counter() - t0
    if ctx.tracer.enabled:
        _lookup_layers(ctx.tracer, res)


def sweep_lookup(ctx: Ctx, res: Result) -> None:
    lk = Lookups(ctx, ctx.sf_dir, ctx.n_entities, random.Random(ctx.seed + 1))
    lk.asof(), lk.snapshot()
    responses = []
    for _ in range(SWEEP_REQUESTS):
        responses.append(_request(ctx.tracer, "asof.request", lk.asof)[1])
        responses.append(_request(ctx.tracer, "versioned.snapshot", lk.snapshot)[1])
    res.failed += _check(ctx, responses)
    _lookup_layers(ctx.tracer, res)


# --------------------------------------------------------------------------- stream


class _Progress(StreamingQueryListener):
    """Collects the progress of every streaming query started while it is
    registered, and the wall time at which the first one started."""

    def __init__(self):
        self.started = None
        self.progress = []

    def onQueryStarted(self, event):
        if self.started is None:
            self.started = time.perf_counter()

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _split_batches(progress):
    """(data batches, sentinel-only batches): files arrive one per batch, chunks first."""
    fed = [p for p in progress if p["numInputRows"] > 0]
    return fed[:CHUNKS], fed[CHUNKS:]


def _stream_layers(progress, res: Result) -> None:
    data, sentinel = _split_batches(progress)

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in data)

    res.layers["e2e.data_batch_ms_p50"] = med("triggerExecution")
    res.layers["e2e.batch_planning_ms_p50"] = med("queryPlanning")
    res.layers["e2e.batch_add_ms_p50"] = med("addBatch")
    res.layers["e2e.batch_commit_ms_p50"] = med("commitOffsets")
    res.layers["e2e.state_commit_ms_p50"] = statistics.median(
        sum(op["commitTimeMs"] for op in p["stateOperators"]) for p in data
    )
    res.layers["e2e.overhead_batch_ms"] = statistics.median(
        p["durationMs"]["triggerExecution"] for p in sentinel
    )
    res.layers["e2e.state_rows_total"] = max(
        sum(op["numRowsTotal"] for op in p["stateOperators"]) for p in progress
    )
    res.layers["e2e.state_memory_mb"] = max(
        sum(op["memoryUsedBytes"] for op in p["stateOperators"]) for p in progress
    ) / MB


def sweep_stream(ctx: Ctx, res: Result, sf_dir: str, n_events: int, gate) -> None:
    """One bounded replay of the log in ``sf_dir`` by the program's own
    ``run_streaming_pipeline_e2e``, checked against ``gate``."""
    spark = ctx.spark
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        t0 = time.perf_counter()
        out = run_streaming_pipeline_e2e(spark, sf_dir, None, chunks=CHUNKS, waves=WAVES)
        end = time.perf_counter()
        # progress events reach the listener through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    res.failed += not gate.frame_ok(out.toPandas())
    # staging the chunk files and building the query: the call's start until the query starts
    res.layers["e2e.stage_s"] = listener.started - t0
    res.layers["e2e.events_per_s"] = n_events / (end - listener.started)
    _stream_layers(listener.progress, res)


# --------------------------------------------------------------------------- batch layer sweep


def sweep_batch(ctx: Ctx, res: Result) -> None:
    """Each batch layer timed on its own, inputs materialized with ``localCheckpoint``."""
    spark, tr, L = ctx.spark, ctx.tracer, res.layers

    def scan():
        df = spark.read.parquet(os.path.join(ctx.sf_dir, "events.parquet"))
        normalize_ts(df, "ts").write.format("noop").mode("overwrite").save()

    # tables: a fresh read + timestamp normalization, fully scanned
    dt, _, _ = _timed(tr, "tables.scan", scan)
    L["tables.scan_s"] = dt
    L["tables.scan_rows_per_s"] = ctx.n_events / dt

    ev = load_table(spark, ctx.sf_dir, "events").localCheckpoint()
    dt, fh, rec = _timed(
        tr, "versioned.history", lambda: events_demo.feature_history(ev).localCheckpoint()
    )
    L["versioned.history_s"] = dt
    L["versioned.history_rows"] = fh.count()
    L["versioned.shuffle_write_mb"] = rec["shuffle_write_bytes"] / MB
    th = events_demo.target_history(ev).localCheckpoint()

    dt, ex, _ = _timed(tr, "training.examples", lambda: events_demo.examples(ev).localCheckpoint())
    L["training.examples_s"] = dt
    L["training.examples_rows"] = ex.count()

    dt, out, rec = _timed(
        tr, "asof.backfill_join", lambda: training_examples(ex, fh, th).localCheckpoint()
    )
    L["asof.backfill_join_s"] = dt
    L["asof.shuffle_write_mb"] = rec["shuffle_write_bytes"] / MB
    L["asof.spill_mb"] = rec["spill_bytes"] / MB

    path = os.path.join(ctx.run_dir, "sweep_out")
    dt, _, _ = _timed(tr, "sinks.write", lambda: write_parquet(out, path))
    L["sinks.write_s"] = dt
    res.failed += not ctx.gate.parquet_ok(path)


WORKLOADS = {"backfill": backfill, "lookup": lookup}
