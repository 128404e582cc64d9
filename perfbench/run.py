"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload eval_pipeline --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Each run starts ``workloads.py`` in a fresh
process with ``SPARK_GRAFT_CPUS`` set to the usable CPU count and every
temporary file (Spark local dirs, ``TMPDIR``, indexes, event logs) under a
work directory inside the checkout.  Once that process ends, every process it
left behind is killed and waited for, and the work directory is removed,
whether the run succeeded or not.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run, plus its overhead: its ``op_p50_ms``
against the median of the untraced runs of the same workload and length on
record in this checkout.  With none on record, the overhead is the time the
spans' own bookkeeping took, as a share of the timed operations.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  Results and spans are kept under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: A run must end within 180 s; the workload process gets what is left
#: after the supervisor's own start-up and clean-up.
CHILD_TIMEOUT_S = 165

sys.path.insert(0, HERE)
from stats import check_metric_names  # noqa: E402


def _pgroup_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_child(args, trace: int, deadline: float) -> dict | None:
    """Run the workload once in a fresh process group; return its result
    record, or ``None`` when it crashed or ran out of time."""
    tag = f"{args.workload}-seed{args.seed}-s{args.seconds:g}-trace{trace}"
    work = os.path.join(WORK_ROOT, f"{os.getpid()}-{trace}")
    out = os.path.join(OUT_DIR, f"{tag}.json")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("SPARK_MASTER", None)
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", f"{args.seconds:g}", "--trace", str(trace),
           "--workdir", work, "--out", out]
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {tag} ran out of time", file=sys.stderr)
    finally:
        # the JVM and its Python workers share the child's process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        end = time.monotonic() + 10
        while _pgroup_alive(proc.pid) and time.monotonic() < end:
            time.sleep(0.1)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's work directory is still there
    if proc.returncode not in (0, 1) or not os.path.exists(out):
        return None
    with open(out) as f:
        return json.load(f)


def untraced_op_p50_ms(workload: str, seconds: float) -> float | None:
    """Median ``op_p50_ms`` of the correct untraced runs on record for this
    workload and run length, any seed."""
    vals = []
    for path in glob.glob(os.path.join(OUT_DIR, f"{workload}-seed*-s{seconds:g}-trace0.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("correct") and rec.get("e2e"):
            vals.append(rec["e2e"]["op_p50_ms"])
    return statistics.median(vals) if vals else None


def print_metrics(metrics: dict) -> None:
    for name in sorted(metrics):
        m = metrics[name]
        print(f"  {name:44s} {m['value']:>16.6g} {m['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    os.makedirs(OUT_DIR, exist_ok=True)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    check_metric_names(units)

    base_ms = untraced_op_p50_ms(args.workload, args.seconds) if args.trace else None
    rec = run_child(args, args.trace, deadline)
    if rec is None:
        print("perfbench: the workload process failed", file=sys.stderr)
        return 1

    values = {}
    if rec["correct"]:
        if args.trace:
            values = dict(rec["per_layer"])
            if base_ms is not None:
                values["trace.overhead_pct"] = 100.0 * (rec["e2e"]["op_p50_ms"] / base_ms - 1.0)
            else:  # no untraced run on record: the spans' own bookkeeping share
                values["trace.overhead_pct"] = (
                    0.1 * values["trace.bookkeeping_ms"] / sum(rec["steps"]["harness.op"]))
        else:
            values = rec["e2e"]
        missing = sorted(set(units) - set(values))
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
    metrics = {n: {"value": values[n], "unit": units[n]} for n in units if n in values}
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} correct={rec['correct']}")
    if rec.get("error"):
        print(f"  check failed: {rec['error']}")
    print_metrics(metrics)
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
