"""linkgraph benchmark: one closed-loop client running one pass at a time.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_rank --seed 1 --seconds 14 --trace 0

Workloads: ingest_rank, label_ops (see perfbench/inputs.json and README.md).
With ``--trace 0`` the run reports the end-to-end metrics (e2e_s,
edges_per_s, setup_s, peak_rss_mb); with ``--trace 1`` it reports the
per-layer breakdown. Every pass is checked against the expected answers.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

The run itself happens in a child process (perfbench/child.py) that hands
its result back through a file. All inputs, outputs and Spark scratch live
under ``.bench_work/`` in the repository root and are removed at the end.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _group_members(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _stop_group(pgid: int) -> None:
    """Kill whatever the child left behind (JVM, Python workers) and wait
    until every process of its group has ended."""
    deadline = time.monotonic() + 30
    while _group_members(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "linkgraph", "__init__.py")):
        print("perfbench: the linkgraph package is not next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "inputs.json")) as f:
        if args.workload not in json.load(f):
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", result_path]
    # the child's stdout goes to our stderr: our stdout carries the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {TIMEOUT_S} s, stopped", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or res is None or "metrics" not in res:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        for err in (res or {}).get("errors", []):
            print(err, file=sys.stderr)
        return 1

    for err in res["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    error_rate = res["failed"] / res["attempted"]
    print(f"workload {args.workload} seed {args.seed} sizes {json.dumps(res['sizes'])}")
    print(f"passes {json.dumps(res['passes'])}")
    for name, (value, unit) in res["metrics"].items():
        print(f"  {name:32s} {value:14.6g} {unit}")
    print(f"  {'error_rate':32s} {error_rate:14.6g} failed/attempted")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
