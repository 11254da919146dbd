"""Benchmark entry point.

    python3 perfbench/run.py --workload survey_reload --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. Each workload runs in a fresh child
process (``workloads.py``) with:

- ``SPARK_GRAFT_CPUS`` set to the cores this process may use (the
  program's default, 32, oversubscribes a small host);
- ``SPARK_GRAFT_DRIVER_MEM`` set to a quarter of physical memory,
  between 1 and 4 GiB (the default, 32g, does not fit a small host);
- ``PYTHONPATH`` set to the repository root, so Spark's Python workers
  can import ``lime_etl_spark`` (the partitioned extract runs there);
- a private working directory under ``.perfbench-run/`` for inputs,
  outputs, Spark's local dirs and temporary files, removed at exit.

The last stdout line is the result JSON of the workload (for ``all``,
one JSON object per workload, keyed by name).
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
WORKLOADS = ("survey_reload", "ingest_dedup", "corpus_prep")
CHILD_TIMEOUT_S = 150


def driver_mem() -> str:
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{min(4096, max(1024, kb // 1024 // 4))}m"


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def wait_group_gone(pgid: int, timeout_s: float) -> None:
    """Wait until every process of the group has ended; kill what stays
    and give it 5 s more to be reaped."""
    deadline = time.monotonic() + timeout_s
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.2)
    if not group_alive(pgid):
        return
    os.killpg(pgid, signal.SIGKILL)
    deadline = time.monotonic() + 5
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: int, trace: int) -> tuple[int, str]:
    """Run one workload in a fresh process; returns (exit code, last line)."""
    base = os.path.join(ROOT, ".perfbench-run")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "workloads.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work,
    ]
    if trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        cmd += ["--trace-out", os.path.join(base, "traces", f"{workload}-seed{seed}.json")]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        print(f"{workload}: timed out after {CHILD_TIMEOUT_S}s", file=sys.stderr)
        proc.returncode = proc.returncode or 124
    except BaseException:  # interrupted: take the child's processes down now
        os.killpg(proc.pid, signal.SIGKILL)
        raise
    finally:
        try:
            wait_group_gone(proc.pid, 15)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    return proc.returncode, lines[-1] if lines else ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "lime_etl_spark")):
        print(f"no lime_etl_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    for name in names:
        rc, last = run_one(name, a.seed, a.seconds, a.trace)
        try:
            res = json.loads(last)
        except ValueError:
            res = None
        if rc != 0 or res is None:
            print(f"{name}: failed (exit {rc})", file=sys.stderr)
            return rc or 1
        results[name] = res
        if a.workload == "all":
            m = ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in res["metrics"].items())
            print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}: {m}")
    print(json.dumps(results if a.workload == "all" else results[names[0]]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
