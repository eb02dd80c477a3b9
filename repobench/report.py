#!/usr/bin/env python3
"""Print every end-to-end metric of every workload, and the tracing overhead.

    python3 repobench/report.py

Run from the root of a checkout. Each workload runs PAIRS times untraced
and PAIRS times traced, alternating, on seeds SEED, SEED+1, ... with
BENCHMARK.json's run_seconds. The lines read ``workload/metric value unit``
with the median of the untraced runs, followed by the median of the traced
runs and their relative difference, which is the tracing overhead. Exits 1
when any run fails or any run's ok_frac is below 1.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED, PAIRS = 7, 3


def one_run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        return None
    with open(os.path.join(".bench_build", "work", workload, "end_to_end.json")) as fh:
        return json.load(fh)


def main():
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    bad = False
    for w in run.WORKLOADS:
        runs = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in (0, 1):
                runs[trace].append(one_run(w, SEED + i, seconds, trace))
        if None in runs[0] + runs[1]:
            print(f"{w}: run failed")
            bad = True
            continue
        for k, unit in run.END_TO_END.items():
            plain = statistics.median(r[k]["value"] for r in runs[0])
            traced = statistics.median(r[k]["value"] for r in runs[1])
            diff = f" ({(traced / plain - 1) * 100:+.1f}%)" if plain else ""
            print(f"{w}/{k} {plain:.6g} {unit}  traced {traced:.6g}{diff}")
        bad |= any(r["ok_frac"]["value"] < 1 for r in runs[0] + runs[1])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
