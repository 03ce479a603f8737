"""Run one workload k times and print, for each end-to-end metric, the
median, the quartiles and the spread against the metric's bound.

    python3 layerbench/steadiness.py --workload analytic_reads -k 10

Run from the repository root. Run i of a set has seed i (1..k) and
measures ``run_seconds`` from BENCHMARK.json. The spread is the
interquartile range over the median (``statistics.quantiles(values,
n=4)``); ``ok`` means it is under a third of the bound, ``warn`` under
the bound. With ``--sets 2`` the second set's median is also compared
with the first's, the check a no-op change must pass. Figures from the
REPORT line (tail and write latencies) are checked the same way against
layerbench/metrics.py's REPORT_BOUNDS.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from layerbench import stats  # noqa: E402
from layerbench.metrics import END_TO_END, REPORT_BOUNDS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"run failed: seed {seed}, exit {out.returncode}")
    result = json.loads(lines[-1])
    report = json.loads(lines[-2][len("REPORT "):])
    values = {k: v["value"] for k, v in result["metrics"].items()}
    values.update({k: report[k] for k in REPORT_BOUNDS if k in report})
    return {"values": values, "correct": result["correct"],
            "failed": result["failed"], "wall_s": time.time() - t0,
            "load": (report["host"]["loadavg_start"],
                     report["host"]["loadavg_end"]),
            "steal": report["host"]["cpu_steal_pct"]}


def bound_of(name: str) -> float:
    return END_TO_END[name][2] if name in END_TO_END else REPORT_BOUNDS[name]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    sets = []
    for s in range(args.sets):
        runs = []
        for seed in range(1, args.k + 1):
            r = run_once(args.workload, seed, seconds)
            runs.append(r)
            print(f"# set {s + 1} seed {seed}: wall {r['wall_s']:.1f}s "
                  f"correct={r['correct']} failed={r['failed']} "
                  f"load {r['load'][0]:.2f}->{r['load'][1]:.2f} "
                  f"steal {r['steal']}% "
                  + " ".join(f"{k}={v:.4g}"
                             for k, v in r["values"].items()),
                  flush=True)
        sets.append(runs)

    worst = "ok"
    print(f"{'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s} {'verdict':>8s}")
    names = sorted({k for r in sets[0] for k in r["values"]})
    for name in names:
        bound = bound_of(name)
        medians = []
        for runs in sets:
            vals = [r["values"][name] for r in runs if name in r["values"]]
            sp = stats.spread(vals)
            medians.append(sp["median"])
            verdict = ("ok" if sp["spread"] < bound / 3
                       else "warn" if sp["spread"] < bound else "FAIL")
            if verdict == "FAIL" or (verdict == "warn" and worst == "ok"):
                worst = verdict
            print(f"{name:30s} {sp['median']:12.5g} {sp['q1']:12.5g} "
                  f"{sp['q3']:12.5g} {sp['spread']:8.3f} {bound:6.2f} "
                  f"{verdict:>8s}")
        if len(medians) == 2:
            better = END_TO_END.get(name, ("", "lower"))[1]
            drift = (medians[1] - medians[0]) / medians[0]
            worse = drift if better == "lower" else -drift
            verdict = "ok" if worse <= bound else "FAIL"
            if verdict == "FAIL":
                worst = "FAIL"
            print(f"{'  second/first median':30s} {drift:+12.3%} "
                  f"{'':>12s} {'':>12s} {'':>8s} {bound:6.2f} {verdict:>8s}")
    bad = [r for runs in sets for r in runs if not r["correct"]]
    print(f"# runs: {sum(len(x) for x in sets)}, incorrect: {len(bad)}, "
          f"worst verdict: {worst}")
    return 1 if bad or worst == "FAIL" else 0


if __name__ == "__main__":
    sys.exit(main())
