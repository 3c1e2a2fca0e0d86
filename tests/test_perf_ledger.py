"""``PERF_LEDGER.jsonl``: one JSON line per benchmarked change, holding the
parent and change medians of every end-to-end metric of every workload in
``BENCHMARK.json``."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = {"pr", "archetype", "claim", "medians", "seeds", "canary_s"}


def _ledger() -> list[dict]:
    with open(os.path.join(ROOT, "PERF_LEDGER.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def test_perf_ledger_lines_parse_and_pr_increases():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = {w["name"] for w in bench["workloads"]}
    metrics = {m["name"] for m in bench["end_to_end"]}
    rows = _ledger()
    assert rows
    for row in rows:
        assert REQUIRED <= set(row), row.get("pr")
        assert set(row["medians"]) == workloads, row["pr"]
        for per_metric in row["medians"].values():
            assert set(per_metric) == metrics, row["pr"]
            for side in per_metric.values():
                assert set(side) == {"parent", "change"}, row["pr"]
        claim = row["claim"]
        assert claim is None or (
            claim["workload"] in workloads and claim["metric"] in metrics
        ), row["pr"]
    prs = [row["pr"] for row in rows]
    assert all(a < b for a, b in zip(prs, prs[1:])), prs
