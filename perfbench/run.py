"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Runs one workload of ``BENCHMARK.json`` in
a fresh child process (``perfbench.workloads``) on ``local[<cores>]``,
then prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Units come from ``BENCHMARK.json``.

The child runs in its own session; when it ends, every process left in
that session (the Spark JVM, its Python workers) is stopped and waited
for. Scratch files live in ``.perfbench/work`` and are removed before and
after each run; traced runs leave their spans in ``.perfbench/traces``.
Exits non-zero, printing no result, when the workload fails or the
program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import proc_stats  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench", "work")
TRACES = os.path.join(ROOT, ".perfbench", "traces")
DEADLINE_S = 160
DRIVER_MEMORY = "3g"


def _session_pids(sid: int) -> list[int]:
    # a zombie is already dead
    return [pid for pid, (state, _, s) in proc_stats().items() if s == sid and state != "Z"]


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of session ``sid``; return
    once none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        end = time.time() + grace
        while time.time() < end:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # input-size multiplier for the benchmark's own smoke tests
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    a = ap.parse_args()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    result_path = os.path.join(WORK, "result.json")
    trace_path = os.path.join(TRACES, f"{a.workload}-{a.seed}.json")
    env = dict(os.environ)
    env.update(
        {
            # Python workers import the program from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # every JVM, the launcher's too, would leave /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    os.makedirs(env["TMPDIR"])
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--scale", str(a.scale),
        "--work", WORK, "--result", result_path, "--trace-out", trace_path,
    ]  # fmt: skip
    # the child's output is diagnostics: keep stdout for the result line
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"workload exceeded {DEADLINE_S}s", file=sys.stderr)
        code = None
    finally:
        _stop_session(child.pid)
        child.wait()
    try:
        if code != 0:
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    names = [m["name"] for m in wanted]
    if set(got) != set(names):
        print(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(names))}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
