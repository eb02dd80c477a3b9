#!/usr/bin/env python3
"""Repo benchmark: one run of one workload.

    python3 repobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
repository's sources with sbt (``repobench/harness``); later runs reuse the
build while the sources are unchanged. Every file the run writes is under
``.bench_build/`` in the checkout.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Fixed query subsets (see README.md for why these and not whole modules).
CORPUS = [
    "q_hash_sample", "q_zipf_fit", "q_token_freq", "q_bm25_stored",
    "q_hybrid_rrf_stored",
]
WORKLOADS = {
    "corpus_stores": {"kind": "batch", "queries": CORPUS},
    "lake_ingest": {"kind": "lake"},
}
# Timed samples at least: 8 rounds of the 5 queries, or 36 commits (tail
# p72); both leave a tail with 10 samples beyond it. Each query's latencies
# cluster, so p50 (rank 20 of 40) and the p75 tail (rank 30) must fall inside
# a cluster, not on the boundary between two: with 8 rounds they are the 4th
# of the third-fastest query's 8 and the 6th of the fourth's.
BATCH_ROUNDS, MIN_COMMITS = 8, 36
WARM_ROUNDS = 3  # untimed rounds after the warm pass, before the timed ones
MAX_FILES_PER_TRIGGER = 10           # drain batch layout: 10 files a batch
DRAIN_FILES = 70                     # a priming batch, then six timed ones
WARM_CLOSED_FILES, WARM_DRAIN_FILES = 10, MAX_FILES_PER_TRIGGER
# Closed-loop files: a priming file, then enough for --seconds at twice the
# measured commit rate (1.5-1.7 commits/s on a 4 vCPU VM), and at least
# MIN_COMMITS. On a host fast enough to use them all the loop ends early.
COMMIT_RATE_CAP = 3.4
RUN_TIMEOUT_S = 170  # a run ends within 180 s of its build

END_TO_END = {
    "setup_s": "s", "ok_frac": "ratio", "peak_live_mb": "MB", "ops_per_s": "1/s",
    "latency_p50_s": "s", "latency_tail_s": "s", "rows_per_s": "rows/s",
}
BATCH_LAYERS = {
    "ops.construct_s": "s", "ops.construct_jobs": "count",
    "tables.load_jobs": "count", "tables.load_s": "s",
    "sources.store_jobs": "count", "sources.store_s": "s",
    "sources.build_jobs": "count", "sources.build_s": "s", "sources.build_bytes": "bytes",
    "plans.plan_s": "s",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.core_busy_frac": "ratio",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
}
STREAM_FIELDS = {
    "source_ms": "ms", "plan_ms": "ms", "add_batch_ms": "ms", "checkpoint_ms": "ms",
    "idle_ms": "ms", "tasks": "count", "task_cpu_ms": "ms", "bytes_written": "bytes",
    "files_written": "count", "rows_in": "rows", "rows_out": "rows",
}
STATE_FIELDS = {"state_commit_ms": "ms", "state_rows": "rows", "state_bytes": "bytes"}


def stream_layers():
    fields = {**STREAM_FIELDS, **STATE_FIELDS}
    return {f"streaming.news.{phase}.{f}": unit
            for phase in ("closed", "drain") for f, unit in fields.items()}


PER_LAYER = {**BATCH_LAYERS, **stream_layers()}

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"repobench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def _source_digest(root):
    h = hashlib.sha256()
    harness = os.path.join(HERE, "harness")
    for base in (os.path.join(root, "src", "main"), harness):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(harness, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the harness with the checkout's sources; return the classpath."""
    stamp, cp_file = os.path.join(build_dir, "stamp"), os.path.join(build_dir, "classpath")
    digest = _source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [os.environ.get("SBT_OPTS", ""), "-Xmx2g", "-Dsbt.offline=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # every JVM the sbt launcher starts keeps its temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(o for o in opts if o),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(build_dir, 'sbt')}",
         "compile", "export Runtime / fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, capture_output=True, text=True,
        timeout=800)
    lines = [x for x in r.stdout.splitlines() if "classes" in x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


# ---- one run ---------------------------------------------------------------

def closed_files(seconds):
    """Files staged for the timed closed loop: one primes the query."""
    return 1 + max(MIN_COMMITS, math.ceil(COMMIT_RATE_CAP * seconds))


def run_jvm(classpath, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so that collector sizing does not differ between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-cp", classpath, "repobench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=log,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; log in {log_path}")
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def latency_metrics(lat, n_ok, wall):
    q, tail_v, n = stats.tail(lat)
    return {"ops_per_s": n_ok / wall, "latency_p50_s": stats.median(lat),
            "latency_tail_s": tail_v}, f"tail=p{q} of n={n}"


def batch_run(res, data, work):
    errors = check.check_queries(data, os.path.join(work, "results"), res["warm"])
    bad = {n: e for n, e in errors.items() if e}
    for n, e in bad.items():
        print(f"repobench: {n} incorrect: {e}", file=sys.stderr)
    rows = check.result_rows(os.path.join(work, "results"), errors)
    timed = res["timed"]
    good = [t["ok"] and t["name"] not in bad for t in timed]
    lat = [t["lat_s"] if g else math.inf for t, g in zip(timed, good)]
    wall = res["timed_wall_s"]
    m, note = latency_metrics(lat, sum(good), wall)
    m["rows_per_s"] = sum(rows.get(t["name"], 0) for t, g in zip(timed, good) if g) / wall
    return m, len(timed), len(timed) - sum(good), not bad, note


def lake_run(res, expected, work):
    c, d = res["closed"], res["drain"]
    lake = os.path.join(work, "lake")
    errs = {
        "closed": check.check_lake(os.path.join(lake, "closed", "out"),
                                   [r for f in expected["closed"][:c["files"]] for r in f]),
        "drain": check.check_lake(os.path.join(lake, "drain", "out"),
                                  [r for f in expected["drain"] for r in f]),
    }
    for phase, e in errs.items():
        if e:
            print(f"repobench: {phase} lake incorrect: {e}", file=sys.stderr)
    failed = (c["files"] if errs["closed"] else 0) + (d["files"] if errs["drain"] else 0)
    lat = c["lat_s"] if not errs["closed"] else [math.inf] * len(c["lat_s"])
    m, note = latency_metrics(lat, 0 if errs["closed"] else len(lat), c["wall_s"])
    m["rows_per_s"] = (0 if errs["drain"] else d["records"]) / d["wall_s"]
    attempted = c["files"] + d["files"]
    return m, attempted, failed, not failed, note


# ---- per-layer metrics from the traced run ---------------------------------

def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def batch_layers(res, cores):
    tr = res["trace"]
    counts, n = tr["counts"], len(res["timed"])
    span = {}
    for s in tr["spans"]:
        span.setdefault(s["name"], {})[s["op"]] = s["end_ms"] - s["start_ms"]

    def total(layer, field):
        return sum(counts.get(f"op/{i}/{layer}", {}).get(field, 0) for i in range(n))

    exec_ms = sum(span.get("execute", {}).values())
    build = counts.get("op/warm/sources", {})
    return {
        "ops.construct_s": sum(span.get("construct", {}).values()) / 1e3 / n,
        "ops.construct_jobs": total("construct", "jobs") / n,
        "tables.load_jobs": total("tables", "jobs") / n,
        "tables.load_s": total("tables", "job_ms") / 1e3 / n,
        "sources.store_jobs": total("sources", "jobs") / n,
        "sources.store_s": total("sources", "job_ms") / 1e3 / n,
        # the store builds, in the warm pass: totals per run, not per call
        "sources.build_jobs": build.get("jobs", 0),
        "sources.build_s": build.get("job_ms", 0) / 1e3,
        "sources.build_bytes": build.get("bytes_written", 0),
        "plans.plan_s": sum(tr["plan_ms"].values()) / 1e3 / n,
        "exec.execute_s": exec_ms / 1e3 / n,
        "exec.jobs": total("execute", "jobs") / n,
        "exec.tasks": total("execute", "tasks") / n,
        "exec.task_cpu_s": total("execute", "task_cpu_ns") / 1e9 / n,
        "exec.core_busy_frac": total("execute", "task_run_ms") / (exec_ms * cores),
        "exec.shuffle_bytes": total("execute", "shuffle_bytes") / n,
        "exec.spill_bytes": total("execute", "spill_bytes") / n,
    }


def stream_phase_layers(phase_res, counts, out_dir, closed):
    bs = phase_res["batches"]
    c = [counts.get(f"stream/{phase_res['query_id']}/{b['batch_id']}", {}) for b in bs]
    if closed:
        idle = _mean(b["commit_ms"] - b["trigger_ms"] for b in bs)
    else:
        idle = (phase_res["wall_s"] * 1e3 - sum(b["trigger_ms"] for b in bs)) / len(bs)
    # the lake also holds the untimed priming batch's files
    files = sum(1 for _, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet"))
    m = {
        "source_ms": _mean(b["latest_offset_ms"] + b["get_batch_ms"] for b in bs),
        "plan_ms": _mean(b["plan_ms"] for b in bs),
        "add_batch_ms": _mean(b["add_batch_ms"] for b in bs),
        "checkpoint_ms": _mean(b["wal_commit_ms"] + b["commit_offsets_ms"] for b in bs),
        "idle_ms": idle,
        "tasks": _mean(x.get("tasks", 0) for x in c),
        "task_cpu_ms": _mean(x.get("task_cpu_ns", 0) / 1e6 for x in c),
        "bytes_written": _mean(x.get("bytes_written", 0) for x in c),
        "files_written": files / (len(bs) + 1),
        "rows_in": _mean(b["rows_in"] for b in bs),
        "rows_out": _mean(x.get("records_written", 0) for x in c),
    }
    m.update({f: _mean(b[f] for b in bs) for f in STATE_FIELDS})
    return m


def lake_layers(res, work):
    out = {}
    for phase in ("closed", "drain"):
        m = stream_phase_layers(res[phase], res["trace"]["counts"],
                                os.path.join(work, "lake", phase, "out"), phase == "closed")
        out.update({f"streaming.news.{phase}.{k}": v for k, v in m.items()})
    return out


def write_spans(res, kind, path):
    """Spans of the traced run, with each span name's total self time.

    Batch spans come from the harness (query > construct, execute); the
    plan span is the executed write's planning time, a child of execute.
    Micro-batch spans (batch > trigger > progress phases) are laid out from
    each batch's progress durations, phases in the order Spark runs them.
    """
    spans = []
    if kind == "batch":
        tr = res["trace"]
        spans = [dict(s) for s in tr["spans"]]
        starts = {s["op"]: s["start_ms"] for s in spans if s["name"] == "execute"}
        for op, ms in tr["plan_ms"].items():
            s = starts[int(op)]
            spans.append({"op": int(op), "name": "plan", "parent": "execute",
                          "start_ms": s, "end_ms": s + ms})
    else:
        phases = ["latest_offset_ms", "get_batch_ms", "plan_ms", "add_batch_ms",
                  "wal_commit_ms", "commit_offsets_ms"]
        for op, b in enumerate(res["closed"]["batches"]):
            spans.append({"op": op, "name": "batch", "parent": None,
                          "start_ms": 0.0, "end_ms": b["commit_ms"]})
            t = b["commit_ms"] - b["trigger_ms"]
            spans.append({"op": op, "name": "trigger", "parent": "batch",
                          "start_ms": t, "end_ms": b["commit_ms"]})
            for p in phases:
                spans.append({"op": op, "name": p[:-3], "parent": "trigger",
                              "start_ms": t, "end_ms": t + b[p]})
                t += b[p]
    self_ms = {}
    for s in spans:
        kids = sum(k["end_ms"] - k["start_ms"] for k in spans
                   if k["op"] == s["op"] and k["parent"] == s["name"])
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - kids
    with open(path, "w") as fh:
        json.dump({"spans": spans, "self_ms": self_ms}, fh)
    return self_ms


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the repository")
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)
    t_setup = time.time()  # set-up starts once the (one-off) build is done
    deadline = t_setup + RUN_TIMEOUT_S
    wl = WORKLOADS[a.workload]
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": a.workload, "kind": wl["kind"], "seconds": a.seconds,
            "cores": os.cpu_count(),
            "trace": a.trace, "work": work,
            "out": os.path.join(work, "result.json")}
    data = os.path.join(work, "data")
    if wl["kind"] == "batch":
        gen.write_tables(a.seed, data)
        args.update(data=data, queries=",".join(gen.query_order(a.seed, wl["queries"])),
                    min_samples=BATCH_ROUNDS * len(wl["queries"]), warm_rounds=WARM_ROUNDS)
    else:
        sizes = {"warm_closed": WARM_CLOSED_FILES, "warm_drain": WARM_DRAIN_FILES,
                 "closed": closed_files(a.seconds), "drain": DRAIN_FILES}
        expected = {}
        for i, (phase, n) in enumerate(sizes.items()):
            files, expected[phase] = gen.news_files(a.seed, i, n, MAX_FILES_PER_TRIGGER)
            gen.write_lake_files(os.path.join(work, "topic", phase), files)
        args.update(topic=os.path.join(work, "topic"), min_samples=MIN_COMMITS,
                    max_files=MAX_FILES_PER_TRIGGER, warm_files=WARM_CLOSED_FILES)
    res = run_jvm(classpath, work, args, deadline)
    if wl["kind"] == "batch":
        m, attempted, failed, correct, note = batch_run(res, data, work)
    else:
        m, attempted, failed, correct, note = lake_run(res, expected, work)
    m["setup_s"] = res["first_op_ms"] / 1e3 - t_setup
    m["peak_live_mb"] = res["peak_live_bytes"] / 2 ** 20
    m["ok_frac"] = stats.ok_frac(attempted, failed)
    e2e = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(work, "end_to_end.json"), "w") as fh:
        json.dump(e2e, fh)  # in traced runs too, for the overhead in report.py
    print(f"repobench: {a.workload} seed={a.seed} wall={time.time() - T_PROCESS:.1f}s {note} "
          + " ".join(f"{k}={v['value']:.6g}" for k, v in e2e.items()), file=sys.stderr)
    metrics = e2e
    if a.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        if wl["kind"] == "batch":
            layers.update(batch_layers(res, args["cores"]))
        else:
            layers.update(lake_layers(res, work))
        self_ms = write_spans(res, wl["kind"], os.path.join(work, "spans.json"))
        print("repobench: self time (ms) " + " ".join(
            f"{k}={v:.1f}" for k, v in self_ms.items()), file=sys.stderr)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
