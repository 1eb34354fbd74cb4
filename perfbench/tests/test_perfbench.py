"""Self-test of the benchmark at tiny scale (sf0.001-sized inputs).

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced with one answer
deliberately corrupted. About six minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import run  # noqa: E402
import spans  # noqa: E402

VECTOR = [
    "setup_s", "index_build_s", "batch_qps", "batch_p50_s", "lookup_p50_s",
    "lookup_p90_s", "recall_at10", "index_bytes_per_vector_byte",
    "peak_rss_mb", "ops_failed_frac", "cycle_p50_s", "cycle_cpu_s",
]
EXPECTED = {
    "retrieval": VECTOR,
    "ingest": VECTOR + ["write_p50_s", "ingest_rows_per_s"],
    "crawl": ["setup_s", "crawl_pages_per_s", "peak_rss_mb", "cycle_cpu_s",
              "ops_failed_frac", "cycle_p50_s"],
}


def _bench(workload: str, *extra: str):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_untraced_prints_every_metric_with_its_unit(workload):
    report, last = _bench(workload, "--trace", "0")
    assert report["workload"] == workload
    for name in EXPECTED[workload]:
        assert report["metrics"][name]["unit"] == run.E2E_UNITS[name], name
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert set(last["metrics"]) == set(run.GATED)
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    for name in run.GATED:
        assert last["metrics"][name]["value"] > 0


@pytest.mark.parametrize("workload", sorted(EXPECTED))
def test_traced_run_attributes_jobs_and_counts_a_corrupted_answer(workload):
    report, last = _bench(workload, "--trace", "1", "--corrupt")
    units = spans.per_layer_units()
    assert {k: v["unit"] for k, v in last["metrics"].items()} == units
    ran = report["span_jobs"]
    assert ran, "no span ran"
    for name, got in ran.items():
        assert got["jobs"] >= 1, f"{name}: no Spark job attributed"
    for name in spans.SPANS:
        if name not in ran:
            assert last["metrics"][f"{name}.jobs"]["value"] == 0
    assert last["failed"] >= 1 and not last["correct"]


def test_event_log_parser_tolerates_missing_fields(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "w/0/index.search"}},
        # no call site, no description, no properties at all
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1100, "Stage IDs": [1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 400,
                          "Executor CPU Time": 100_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1500},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    by_desc = spans.read_event_log(str(log))
    span = {"name": "index.search", "cycle": 0, "start": 0.9, "end": 2.0,
            "wall": 1.1, "rows": 10}
    m = spans.layer_metrics([span], by_desc, "w", cores=4)
    assert m["index.search.jobs"] == 1
    assert m["index.search.task_cpu_s"] == pytest.approx(0.1)
    assert m["index.search.task_noncpu_s"] == pytest.approx(0.3)
    assert m["index.search.driver_s"] == pytest.approx(1.1 - 0.5)
    assert m["hnsw.search.jobs"] == 0
