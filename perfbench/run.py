#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run executes `workloads.py` in a fresh
child process whose store, TMPDIR and SPARK_LOCAL_DIRS live under a
per-run directory that is deleted afterwards. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). Each run also writes its full record, including the
per-workload metrics and, when traced, the per-call layer table, to
`.perfbench_out/<workload>-seed<n>-trace<t>.json`; a traced run whose
untraced twin is already there also records the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170
# local[2]: on a 4-vCPU machine, local[4] plus one Python worker per task
# slot oversubscribed the CPUs; two slots ran faster and steadier
CPUS = min(2, os.cpu_count() or 1)


def declared_metrics() -> tuple[list[dict], list[dict]]:
    """The end-to-end and per-layer metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def run_child(args, root: str, result: str) -> int:
    env = dict(os.environ)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    env.update({
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root, "--result", result]
    if args.tiny:
        cmd.append("--tiny")
    # own session: on timeout or termination the whole group (the JVM and
    # Python workers too) is killed
    proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True,
                            stdout=sys.stderr)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        return 124
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)


def _wait_group_gone(pgid: int, limit_s: float = 5.0) -> None:
    """Wait until no process of the child's group (JVM, Python workers)
    is left; they die asynchronously after the SIGKILL."""
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print(f"perfbench: processes of group {pgid} still present", file=sys.stderr)


def print_table(rec: dict) -> None:
    print(f"# workload={rec['workload']} seed={rec['seed']} trace={rec['trace']}"
          f" local[{rec['cpus']}] cycles={rec['cycles']}"
          f" attempted={rec['attempted']} failed={rec['failed']}")
    for group in ("end_to_end", "workload_metrics"):
        for name, (value, unit) in rec[group].items():
            print(f"#   {name:<28} {value:>14.4f} {unit}")
    for msg in rec["messages"]:
        print(f"# FAILED: {msg}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs; for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_vector_db_spark")):
        print("perfbench: ocr_vector_db_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    result = os.path.join(root, "result.json")
    try:
        code = run_child(args, root, result)
        if code != 0 or not os.path.exists(result):
            print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
            return code or 1
        with open(result) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    end_to_end, per_layer = declared_metrics()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": float(rec["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
        twin = f"{stem}-trace0.json"
        if os.path.exists(twin):
            with open(twin) as fh:
                base = json.load(fh)
            rec["tracing_overhead"] = {
                m["name"]: rec["end_to_end"][m["name"]][0]
                - base["end_to_end"][m["name"]][0] for m in end_to_end}
    else:
        metrics = {m["name"]: {"value": rec["end_to_end"][m["name"]][0],
                               "unit": m["unit"]} for m in end_to_end}
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)

    print_table(rec)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
