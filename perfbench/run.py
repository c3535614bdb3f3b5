"""Benchmark entry point.

    python3 perfbench/run.py --workload ts_prep --seed 1 --seconds 10 --trace 0

Run from the repository root. Pins the environment the program reads,
runs one benchmark run (``worker.py``) in a fresh process group, stops
every process that run started, and prints the run's result as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it is a JSON object of diagnostics (seed, workload,
pinned environment, per-query times, failures). A run whose cold pass
the host slowed (see ``worker.py``) is started once more in a fresh
process; the diagnostics give the first attempt's figures
(``first_attempt``) and which attempt's cold pass is reported.
Everything the run writes goes under ``perfbench/.work/``. Exits
non-zero, printing no result, if the program under test is missing or
the run fails.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# Both attempts together; stopping the processes afterwards can take
# up to 15 s more, and a run must end within 180 s.
RUN_TIMEOUT_S = 160
# The driver JVM hosts all local[N] executor threads; 6g fits a 15 GB
# host with room for the Python workers (the session default is 48g).
DRIVER_MEM = "6g"
MARKER = "PERFBENCH_RUN_ID"


def pinned_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    # A program setting that would change the measurement if inherited.
    env.pop("PAQARIN_STREAM_STATE_PARTITIONS", None)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # JVM scratch files (native libs, streaming checkpoints) and
        # perf data stay inside the run directory.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env[MARKER] = uuid.uuid4().hex
    return env


def _marked_pids(marker: str) -> list[int]:
    needle = f"{MARKER}={marker}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def stop_all(proc: subprocess.Popen, marker: str) -> None:
    """Stop the worker's process group and any process that inherited
    this run's marker (the Python worker daemon makes its own group),
    then wait until none is left."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while True:
        pids = _marked_pids(marker)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: no __spark_entry__.py beside perfbench/", file=sys.stderr)
        return 2
    # A SIGTERM to this process still stops the run's processes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    first = run_worker(args, 1, deadline)
    if first is None:
        return 1
    payload = first
    if "retry" in first:
        payload = run_worker(args, 2, deadline)
        if payload is None:
            return 1
        # Of the two fresh sessions, report the cold pass (and the set-up
        # before it) of the one the host took less CPU time from.
        metrics = payload["result"]["metrics"]
        if first["retry"]["cold_steal_frac"] < payload["diagnostics"]["pass_steal_frac"][0]:
            for name in ("setup_s", "cold_pass_s"):
                metrics[name]["value"] = first["retry"][name]
            payload["diagnostics"]["cold_pass_from_attempt"] = 1
        else:
            payload["diagnostics"]["cold_pass_from_attempt"] = 2
    payload["diagnostics"]["first_attempt"] = first.get("retry")
    print(json.dumps(payload["diagnostics"]))
    print(json.dumps(payload["result"]))
    return 0


def run_worker(args, attempt: int, deadline: float) -> dict | None:
    """One attempt of the run in a fresh process group and an empty run
    directory (inputs under .work/data are kept, since they depend only
    on the seed). Returns the worker's payload, or None if it failed."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    env = pinned_env(run_dir)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data-root", os.path.join(WORK, "data"),
        "--out", out,
        "--attempt", str(attempt),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        code = -1
    finally:
        stop_all(proc, env[MARKER])
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


if __name__ == "__main__":
    raise SystemExit(main())
