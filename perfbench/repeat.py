"""Repeatability check: two sets of runs of the same code.

    python3 perfbench/repeat.py --runs 10 [--workload serve]

Runs ``BENCHMARK.json``'s command ``--runs`` times in each of two sets per
workload, one seed per run (set ``s``, run ``i`` uses seed ``1000 * s + i``),
at the file's ``run_seconds``.  For every end-to-end metric it prints each
set's median and quartiles, the spread (interquartile range over median)
against the metric's bound, and whether the two medians agree within the
bound (``|second - first| / first``).  Exits 1 if any run fails, any spread
exceeds its bound, the sets' shares of failed operations differ, or any pair
of medians disagrees.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}: {lines[-3:]}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(1, SETS + 1):
            runs = []
            for i in range(args.runs):
                r = run_once(spec, w, 1000 * s + i)
                ok &= bool(r["correct"])
                runs.append(r)
                vals = {k: round(m["value"], 4) for k, m in r["metrics"].items()}
                print(f"{w} set {s} run {i}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} {vals}", flush=True)
            sets.append(runs)
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        print(f"\n{w}: failed share per set {shares}")
        ok &= len(set(shares)) == 1
        print(f"{'metric':16} {'bound':>6} " + " ".join(
            f"{'set' + str(s) + ' q1/med/q3':>32} {'spread':>7}" for s in range(1, len(sets) + 1)
        ) + "  agree")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells, meds = [], []
            for rs in sets:
                q1, q2, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
                spread = (q3 - q1) / q2
                meds.append(q2)
                cells.append(f"{q1:10.4g} {q2:10.4g} {q3:10.4g} {spread:7.3f}")
                ok &= spread <= bound
            diffs = [(b - meds[0]) / meds[0] for b in meds[1:]]
            agree = all(abs(x) <= bound for x in diffs)
            ok &= agree
            print(f"{name:16} {bound:6.2f} " + " ".join(cells) +
                  f"  {'yes' if agree else 'NO'} ({', '.join(f'{x:+.3f}' for x in diffs)})")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
