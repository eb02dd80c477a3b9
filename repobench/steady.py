#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the bounds are judged.

    python3 repobench/steady.py --workload <name> [--runs 10] [--seed0 100]

Run from the root of a checkout. Runs the workload ``--runs`` times with
seeds ``seed0, seed0+1, ...`` and prints, per metric, the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and the spread
(Q3 - Q1) / median next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    values = {}
    for i in range(a.runs):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(a.seed0 + i), "--seconds", str(seconds),
                            "--trace", "0"], capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(1)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {a.seed0 + i}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:16s} {med:10.5g} {q1:10.5g} {q3:10.5g} {spread:7.3f} {bounds.get(k, 0):6.2f}")


if __name__ == "__main__":
    main()
