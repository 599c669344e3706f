#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and compare each end-to-end
metric's spread with the bound BENCHMARK.json sets for it.

    python3 perfbench/steadiness.py [--workload <name> ...] [--runs 10] [--first-seed 1]

Each run uses its own seed (first-seed, first-seed + 1, ...). For every
metric the report prints the median, the first and third quartiles
(statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median,
marked against the bound and a third of it. Exit code 1 when any spread
exceeds its bound or any run failed.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run_once(spec, workload, seed):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        rec = json.loads(last)
    except ValueError:
        rec = None
    if p.returncode != 0 or rec is None or not rec.get("correct"):
        sys.stderr.write(p.stderr[-2000:])
        return None
    return rec


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    ok = True
    for w in a.workload or names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            seed = a.first_seed + i
            rec = run_once(spec, w, seed)
            if rec is None:
                print(f"{w} seed {seed}: FAILED")
                ok = False
                continue
            for m in values:
                values[m].append(rec["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{m}={rec['metrics'][m]['value']:.4g}" for m in values), flush=True)
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  verdict")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med if med else float("inf")
            verdict = ("ok" if spread < m["bound"] / 3 else
                       "within bound" if spread <= m["bound"] else "TOO WIDE")
            if spread > m["bound"]:
                ok = False
            print(f"  {m['name']:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{spread:>9.3f}{m['bound']:>8}  {verdict}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
