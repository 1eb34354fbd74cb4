"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0

Run from the repository root. It writes the workload's seeded inputs to
files, then starts the timed process (``workload.py``) and waits for it.
It prints one report line with every metric of the workload (name,
unit, workload), the input properties and the session settings, and
then, as its last line, the result object::

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the run also writes Spark's
event log, and the metrics are the per-layer block parsed from it.
Scratch files go under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = ".perfbench_work"
CHILD_TIMEOUT_S = 160

# The 13 end-to-end metrics and their units; each workload reports the
# ones that apply to it. Every workload also reports the wall time and
# the CPU time (driver, JVM and Python workers) of one closed-loop cycle.
E2E_UNITS = {
    "setup_s": "s", "index_build_s": "s", "batch_qps": "probes/s",
    "batch_p50_s": "s", "lookup_p50_s": "s", "lookup_p90_s": "s",
    "recall_at10": "fraction", "write_p50_s": "s",
    "ingest_rows_per_s": "rows/s", "crawl_pages_per_s": "pages/s",
    "index_bytes_per_vector_byte": "ratio", "peak_rss_mb": "MB",
    "ops_failed_frac": "fraction", "cycle_p50_s": "s", "cycle_cpu_s": "s",
}
# What the last line carries with --trace 0 (BENCHMARK.json's end_to_end
# list): the steady metrics every workload has. On a shared host the
# wall time of a cycle moves with the host's load (two states ~25% apart
# were seen within ten minutes) while its CPU time does not, so the
# cycle is gated on CPU time; its wall time is reported. peak_rss_mb is
# reported but not gated: the JVM's heap growth moves it ~20% run to run.
GATED = ["setup_s", "cycle_cpu_s"]
WORKLOADS = ("retrieval", "ingest", "crawl")


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _run_child(args, work: str, inputs: str, trace: int) -> dict:
    """Run the timed process in its own process group; stop every
    process it started (the JVM and Python workers too) before
    returning."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (os.getcwd(), env.get("PYTHONPATH")) if p),
        TMPDIR=os.path.abspath(f"{work}/tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--inputs", inputs, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(trace),
    ]
    if args.corrupt:
        cmd.append("--corrupt")
    with open(f"{work}/child.log", "w") as log:
        proc = subprocess.Popen(
            cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    path = f"{work}/result.json"
    if code != 0 or not os.path.exists(path):
        with open(f"{work}/child.log") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(
            f"timed process exited with {code}; log tail:\n{tail}")
    with open(path) as fh:
        return json.load(fh)


def _session_pids(sid: int) -> list:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # a zombie waits for its parent; it holds nothing
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _stop_group(proc) -> None:
    """Stop every process of the timed process's session (the PySpark
    daemon leaves its process group but not the session) and wait for
    them to end."""
    sid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while pids and time.time() < deadline:
            proc.poll()
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            break
    proc.wait()


def _inputs(workload: str, seed: int, scale: str) -> tuple:
    """Generate (once per workload, seed, scale and generator version)
    and return (dir, properties)."""
    sys.path.insert(0, HERE)
    import gen

    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    out = f"{WORK_ROOT}/inputs/{workload}-{scale}-{seed}-{version}"
    if not os.path.exists(f"{out}/inputs.json"):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, workload, seed, scale)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(f"{out}/inputs.json") as fh:
        return os.path.abspath(out), json.load(fh)


def _untraced_cycle(args, inputs: str) -> float:
    """cycle_p50_s of the latest untraced run of this workload (any
    seed, same seconds and scale); runs one if there is none."""
    path = f"{WORK_ROOT}/untraced/{args.workload}-{args.scale}.json"
    if os.path.exists(path):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["seconds"] == args.seconds:
            return rec["cycle_p50_s"]
    res = _run_child(args, f"{WORK_ROOT}/runs/{args.workload}-untraced",
                     inputs, 0)
    _save_untraced(args, res)
    return res["metrics"]["cycle_p50_s"]


def _save_untraced(args, res: dict) -> None:
    os.makedirs(f"{WORK_ROOT}/untraced", exist_ok=True)
    with open(f"{WORK_ROOT}/untraced/{args.workload}-{args.scale}.json",
              "w") as fh:
        json.dump({"seed": args.seed, "seconds": args.seconds,
                   "cycle_p50_s": res["metrics"]["cycle_p50_s"]}, fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001-sized inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one answer before checking")
    args = ap.parse_args(argv)
    # a terminated run still stops the timed process and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile("lantern_spark/__init__.py"):
        return _die("run from the repository root (lantern_spark/ not found)")
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import spans

    load_before = os.getloadavg()
    inputs, props = _inputs(args.workload, args.seed, args.scale)
    try:
        if args.trace:
            base_cycle = _untraced_cycle(args, inputs)
        run_dir = f"{WORK_ROOT}/runs/{args.workload}-t{args.trace}"
        res = _run_child(args, run_dir, inputs, args.trace)
    except RuntimeError as e:
        return _die(str(e))
    load_after = os.getloadavg()
    m = res["metrics"]

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        # end-to-end numbers come only from untraced runs
        "metrics": {} if args.trace else {
            k: {"value": m[k], "unit": E2E_UNITS[k]}
            for k in E2E_UNITS if m.get(k) is not None
        },
        "lookup_samples": m.get("lookup_samples"),
        "cycles": res["cycles"],
        "attempted": res["attempted"],
        "failures": res["failures"],
        "setup": res["setup"],
        "inputs": props,
        "settings": res["settings"],
        "host": {"cpus": os.cpu_count(), "loadavg_before": load_before,
                 "loadavg_after": load_after},
        "codegen_failures": res["codegen_failures"],
        "crawl_digests": res.get("crawl_digests"),
    }
    if args.trace:
        by_desc = spans.read_event_log(res["event_log"])
        layers = spans.layer_metrics(
            res["spans"], by_desc, args.workload, res["settings"]["cores"])
        layers["codegen_failures"] = float(res["codegen_failures"])
        layers["trace_overhead"] = m["cycle_p50_s"] / base_cycle - 1.0
        units = spans.per_layer_units()
        out_metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        report["span_jobs"] = spans.jobs_per_span(
            res["spans"], by_desc, args.workload)
        with open(f"{run_dir}/trace.json", "w") as fh:
            json.dump({"spans": res["spans"], "layers": layers}, fh)
    else:
        _save_untraced(args, res)
        out_metrics = {k: {"value": m[k], "unit": E2E_UNITS[k]} for k in GATED}
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
