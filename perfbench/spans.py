"""Span recorder and Spark event-log parser.

The recorder wraps each public call the benchmark makes in a span
(name ``<module>.<function>``, the cycle that caused it, start, end).
In a traced run it also sets the Spark job description to
``<workload>/<cycle>/<span>`` for the duration of the call, so every job
the call submits, including those on AQE and broadcast threads, carries
the span's tag into Spark's own event log. After ``spark.stop()`` the
parser joins jobs, stages and tasks from that log to the spans and
derives the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Dict, List, Optional

# The 20 spans: every public call the workloads time.
SPANS = [
    "index.build", "index.search_batch", "index.search", "index.search_adc",
    "index.add_delta", "index.delete", "index.fold_delta",
    "hnsw.build", "hnsw.search_batch", "hnsw.search",
    "hnsw.add_delta", "hnsw.fold_delta",
    "knn.knn_search",
    "bm25.build_stats", "bm25.search_bm25",
    "warc.warc_documents_fused",
    "weburl.domain_link_graph", "weburl.domain_pagerank",
    "weburl.join_domain_prior",
    "assemble.assemble_pretraining_corpus",
]
SPAN_SUFFIXES = ["wall_s", "jobs", "task_cpu_s", "task_noncpu_s", "driver_s"]
WORKLOAD_METRICS = {
    "spark.tasks": "count", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.core_util": "fraction",
    "codegen_failures": "count", "trace_overhead": "fraction",
}
ROWS_READ_SPANS = [
    "index.search_batch", "index.search", "index.search_adc",
    "knn.knn_search", "bm25.search_bm25",
]
BYTES_WRITTEN_SPANS = ["index.fold_delta", "hnsw.fold_delta"]
_SUFFIX_UNITS = {
    "wall_s": "s", "jobs": "count", "task_cpu_s": "s",
    "task_noncpu_s": "s", "driver_s": "s",
}


def per_layer_units() -> Dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {
        f"{s}.{suf}": _SUFFIX_UNITS[suf] for s in SPANS for suf in SPAN_SUFFIXES
    }
    units.update(WORKLOAD_METRICS)
    units.update({f"{s}.rows_read_per_result": "ratio" for s in ROWS_READ_SPANS})
    units.update(
        {f"{s}.bytes_written_per_row": "B/row" for s in BYTES_WRITTEN_SPANS}
    )
    return units


class SpanRecorder:
    """Times each call from outside the package; tags its jobs if traced."""

    def __init__(self, sc, workload: str, traced: bool):
        self._sc = sc
        self.workload = workload
        self.traced = traced
        self.spans: List[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, cycle):
        """Yield a dict the caller may annotate (``rows``, ``extra``)."""
        if name not in SPANS:
            raise ValueError(f"unknown span {name}")
        rec = {"name": name, "cycle": cycle, "ok": False}
        if self.traced:
            self._sc.setJobDescription(f"{self.workload}/{cycle}/{name}")
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["start"], rec["end"] = start, start + rec["wall"]
            if self.traced:
                self._sc.setJobDescription(None)
            self.spans.append(rec)

    def walls(self, name: str) -> List[float]:
        return [s["wall"] for s in self.spans if s["name"] == name]


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(path: str) -> dict:
    """Jobs and task metrics keyed by job description.

    Tolerates any event or field being absent: jobs without a call site
    or description, stages never submitted, tasks without metrics."""
    jobs: Dict[int, dict] = {}
    stage_desc: Dict[int, Optional[str]] = {}
    tasks: List[dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a torn last line of a log cut short
            kind = ev.get("Event")
            props = ev.get("Properties") or {}
            if kind == "SparkListenerJobStart":
                desc = props.get("spark.job.description")
                jid = ev.get("Job ID")
                jobs[jid] = {
                    "desc": desc,
                    "start": (ev.get("Submission Time") or 0) / 1000.0,
                    "end": None,
                }
                for sid in ev.get("Stage IDs") or []:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev.get("Job ID"))
                if j is not None:
                    j["end"] = (ev.get("Completion Time") or 0) / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = (ev.get("Stage Info") or {}).get("Stage ID")
                if "spark.job.description" in props:
                    stage_desc[sid] = props["spark.job.description"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev.get("Stage ID"),
                    "run_s": (m.get("Executor Run Time") or 0) / 1000.0,
                    "cpu_s": (m.get("Executor CPU Time") or 0) / 1e9,
                    "gc_s": (m.get("JVM GC Time") or 0) / 1000.0,
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) or 0,
                    "spill": (m.get("Memory Bytes Spilled") or 0)
                    + (m.get("Disk Bytes Spilled") or 0),
                    "records_in": (m.get("Input Metrics") or {}).get(
                        "Records Read", 0) or 0,
                    "bytes_out": (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) or 0,
                })
    by_desc: Dict[str, dict] = {}

    def slot(desc):
        return by_desc.setdefault(desc, {"jobs": [], "tasks": []})

    for j in jobs.values():
        if j["desc"] is not None:
            slot(j["desc"])["jobs"].append(j)
    for t in tasks:
        desc = stage_desc.get(t["stage"])
        if desc is not None:
            slot(desc)["tasks"].append(t)
    return by_desc


def layer_metrics(
    spans: List[dict], by_desc: dict, workload: str, cores: int
) -> dict:
    """The per-layer block: 100 per-span names (median per call, 0 for a
    span the workload never ran), the per-workload names (per measured
    cycle) and the useful-work ratios."""
    per_call: Dict[str, List[dict]] = {}
    loop_tasks, loop_wall, cycles = [], 0.0, set()
    ratio_num: Dict[str, float] = {}
    ratio_den: Dict[str, float] = {}
    for s in spans:
        got = by_desc.get(f"{workload}/{s['cycle']}/{s['name']}",
                          {"jobs": [], "tasks": []})
        ivs = [(j["start"], j["end"] or s["end"]) for j in got["jobs"]]
        run = sum(t["run_s"] for t in got["tasks"])
        cpu = sum(t["cpu_s"] for t in got["tasks"])
        per_call.setdefault(s["name"], []).append({
            "wall_s": s["wall"],
            "jobs": len(got["jobs"]),
            "task_cpu_s": cpu,
            "task_noncpu_s": max(0.0, run - cpu),
            "driver_s": s["wall"] - _union_seconds(ivs, s["start"], s["end"]),
        })
        if isinstance(s["cycle"], int):
            cycles.add(s["cycle"])
            loop_tasks.extend(got["tasks"])
            loop_wall += s["wall"]
        if s["name"] in ROWS_READ_SPANS and s.get("rows"):
            ratio_num[s["name"]] = ratio_num.get(s["name"], 0.0) + sum(
                t["records_in"] for t in got["tasks"])
            ratio_den[s["name"]] = ratio_den.get(s["name"], 0.0) + s["rows"]
        if s["name"] in BYTES_WRITTEN_SPANS and s.get("rows"):
            wrote = sum(t["bytes_out"] for t in got["tasks"])
            if wrote == 0:
                wrote = max(0, (s.get("extra") or {}).get("artifact_growth", 0))
            ratio_num[s["name"]] = ratio_num.get(s["name"], 0.0) + wrote
            ratio_den[s["name"]] = ratio_den.get(s["name"], 0.0) + s["rows"]
    out: Dict[str, float] = {}
    for name in SPANS:
        calls = per_call.get(name, [])
        for suf in SPAN_SUFFIXES:
            out[f"{name}.{suf}"] = (
                float(statistics.median(c[suf] for c in calls)) if calls else 0.0
            )
    n_cyc = max(1, len(cycles))
    out["spark.tasks"] = len(loop_tasks) / n_cyc
    out["spark.gc_s"] = sum(t["gc_s"] for t in loop_tasks) / n_cyc
    out["spark.shuffle_write_mb"] = sum(
        t["shuffle_w"] for t in loop_tasks) / 1e6 / n_cyc
    out["spark.spill_mb"] = sum(t["spill"] for t in loop_tasks) / 1e6 / n_cyc
    out["spark.core_util"] = (
        sum(t["run_s"] for t in loop_tasks) / (loop_wall * cores)
        if loop_wall else 0.0
    )
    for name in ROWS_READ_SPANS:
        den = ratio_den.get(name, 0.0)
        out[f"{name}.rows_read_per_result"] = (
            ratio_num[name] / den if den else 0.0)
    for name in BYTES_WRITTEN_SPANS:
        den = ratio_den.get(name, 0.0)
        out[f"{name}.bytes_written_per_row"] = (
            ratio_num[name] / den if den else 0.0)
    return out


def jobs_per_span(spans: List[dict], by_desc: dict, workload: str) -> dict:
    """Calls and attributed Spark jobs per span name that ran."""
    out: Dict[str, dict] = {}
    for s in spans:
        got = by_desc.get(f"{workload}/{s['cycle']}/{s['name']}", {"jobs": []})
        slot = out.setdefault(s["name"], {"calls": 0, "jobs": 0})
        slot["calls"] += 1
        slot["jobs"] += len(got["jobs"])
    return out
