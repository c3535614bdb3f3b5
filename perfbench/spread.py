"""Spread report over sets of benchmark runs.

Run a set (one ``run.py`` process per workload and seed, one after
another, the output of each kept under ``perfbench/.work/sets/<name>``):

    python3 perfbench/spread.py run --set a --seeds 1-10

Summarize one set, or compare two sets of the same code:

    python3 perfbench/spread.py report a
    python3 perfbench/spread.py report a b

For each workload and metric the report gives the run count, the
median and the quartiles (``statistics.quantiles(n=4)``), and the
spread: (q3 - q1) / median. With two sets it also gives the change of
the second median against the first. Both are checked against the
metric's ``bound`` in ``BENCHMARK.json``: spreads (except ``setup_s``)
must stay within the bound, and the second median must not be worse
than the first by more than the bound.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = os.path.join(HERE, ".work", "sets")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_set(name: str, seeds: list[int], workloads: list[str], trace: int) -> None:
    spec = load_spec()
    out_dir = os.path.join(SETS, name)
    os.makedirs(out_dir, exist_ok=True)
    for wl in workloads:
        for seed in seeds:
            cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
            path = os.path.join(out_dir, f"{wl}-t{trace}-{seed}")
            t0 = time.monotonic()
            with open(path + ".out", "w") as out, open(path + ".err", "w") as err:
                code = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=err).returncode
            print(f"{name} {wl} seed={seed} trace={trace} exit={code} "
                  f"wall={time.monotonic() - t0:.1f}s", flush=True)


def load_set(name: str) -> dict[str, list[dict]]:
    """workload -> list of (diagnostics, result) from untraced runs."""
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(SETS, name, "*-t0-*.out"))):
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if len(lines) < 2:
            print(f"{path}: no result", file=sys.stderr)
            continue
        diag, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.setdefault(diag["workload"], []).append({"diag": diag, "result": result})
    return runs


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def report(names: list[str]) -> int:
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load_set(n) for n in names]
    bad = 0
    for wl in sorted(set().union(*sets)):
        print(f"== {wl}")
        for mname, m in metrics.items():
            rows = []
            for runs in sets:
                vals = [r["result"]["metrics"][mname]["value"] for r in runs.get(wl, [])]
                rows.append(summarize(vals) if vals else None)
            cells = []
            for s in rows:
                if s is None:
                    cells.append("(no runs)")
                    continue
                flag = ""
                if mname != "setup_s" and s["spread"] > m["bound"]:
                    flag, bad = " SPREAD>BOUND", bad + 1
                cells.append(
                    f"n={s['n']} median={s['median']:.4g} q1={s['q1']:.4g} "
                    f"q3={s['q3']:.4g} spread={s['spread']:.3f}{flag}"
                )
            line = f"  {mname:16s} [{m['unit']}, bound {m['bound']}] " + " | ".join(cells)
            if len(rows) == 2 and None not in rows:
                a, b = rows[0]["median"], rows[1]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                line += f" | second worse by {worse:+.3f}"
                if worse > m["bound"]:
                    line += " DRIFT>BOUND"
                    bad += 1
            print(line)
        for name, runs in zip(names, sets):
            retried = [(r["diag"]["seed"], r["diag"]["cold_pass_from_attempt"])
                       for r in runs.get(wl, []) if r["diag"].get("first_attempt")]
            print(f"  set {name}: runs started again after a cold pass with steal "
                  f"(seed, attempt whose cold pass is reported): {retried}")
        for runs in sets:
            failed = [r["diag"]["seed"] for r in runs.get(wl, []) if not r["result"]["correct"]]
            if failed:
                print(f"  incorrect runs (seeds): {failed}")
                bad += 1
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Run sets of benchmark runs and report their spread.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        workloads = args.workloads or [w["name"] for w in load_spec()["workloads"]]
        run_set(args.set, parse_seeds(args.seeds), workloads, args.trace)
        return 0
    if len(args.sets) > 2:
        ap.error("report takes one or two sets")
    return report(args.sets)


if __name__ == "__main__":
    raise SystemExit(main())
