#!/usr/bin/env python3
"""Same-box binary A/B bench: adjudicate "code or environment?" in one run.

Usage: python3 scripts/bench_ab.py <baseline-commit> '<query-regex>' [sfdir]

Benches the given query subset twice, minutes apart on the SAME box:
once from a detached worktree at <baseline-commit>, once from the current
tree. Because both runs share the box's ambient conditions, a per-query
ratio ~1.0 means any drift vs a historical record is ENVIRONMENT; a
skewed ratio localizes a real code-level change to specific queries.

This is the controlled experiment the round-9 record used to adjudicate
its +8%-median / 2x-outlier drift vs the round-8 record (DESIGN.md
"Round 9 run of record"): the r8-record binary re-run on the r9 box was
SLOWER than the r9 binary like-for-like, proving the drift ambient.
Runs are sequential (never concurrent) so they don't contend with each
other; the bench's own loadavg fields ride along in both artifacts. Both
runs use the caller's SPARK_GRAFT_CPUS, or the cores this process may run
on (what `nproc` prints) when it is unset, so the engine is never sized
past the box.
"""
import json, re, subprocess, sys, os, shutil

if len(sys.argv) < 3:
    sys.exit(__doc__)
base, qre = sys.argv[1], sys.argv[2]
sfdir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
wt = "/tmp/bench_ab_wt"
cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

def bench(cwd, out):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_ONLY=qre, SPARK_GRAFT_BENCH_OUT=out)
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       cwd=cwd, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        sys.exit(1)
    return json.load(open(out))

shutil.rmtree(wt, ignore_errors=True)
subprocess.run(["git", "worktree", "remove", "--force", wt],
               cwd="/root/repo", capture_output=True)
subprocess.run(["git", "worktree", "add", wt, base],
               cwd="/root/repo", check=True, capture_output=True)
try:
    a = bench(wt, "/tmp/bench_ab_base.json")      # baseline binary
    b = bench("/root/repo", "/tmp/bench_ab_cur.json")  # current tree
finally:
    subprocess.run(["git", "worktree", "remove", "--force", wt],
                   cwd="/root/repo", capture_output=True)

qa, qb = a["queries"], b["queries"]
print(f"SPARK_GRAFT_CPUS={cpus}")
print(f"{'query':28s} {'base@'+base[:9]:>12s} {'current':>9s} {'ratio':>7s}")
for k in sorted(set(qa) & set(qb)):
    ratio = qb[k] / qa[k] if qa[k] > 0 else float("nan")
    print(f"{k:28s} {qa[k]:12.2f} {qb[k]:9.2f} {ratio:7.2f}")
print(f"loads: base {a.get('load1_start')}->{a.get('load1_end')}, "
      f"current {b.get('load1_start')}->{b.get('load1_end')}")
only_a = set(qa) - set(qb); only_b = set(qb) - set(qa)
if only_a: print("only in baseline:", sorted(only_a))
if only_b: print("only in current:", sorted(only_b))
