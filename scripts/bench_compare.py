#!/usr/bin/env python3
"""Compare two bench JSON lines (bench_out.json format, or a BENCH_r{N}.json
driver artifact whose tail contains the line).

Usage: python3 scripts/bench_compare.py OLD NEW [--top N]

Prints total/median deltas and the biggest per-query regressions and
improvements, so a round's perf work is judged against the recorded
artifact instead of memory.

Exits 1 without comparing when the two runs timed different query sets or
failed different queries: a bench total leaves failed queries out, so a
change that breaks a query would otherwise read as faster.
"""
import json, re, statistics, sys


def load(path):
    raw = open(path).read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d and isinstance(d["queries"], dict):
        return d["queries"], d.get("value"), d.get("failed")
    # driver artifact: find the LAST parseable {"metric":...} line in the tail
    text = d.get("tail", raw) if isinstance(d, dict) else raw
    best = None
    for m in re.finditer(r'\{"metric":.*\}', text):
        try:
            cand = json.loads(m.group(0))
            if "queries" in cand:
                best = cand
        except json.JSONDecodeError:
            continue
    if best is None:
        # tail may have head-truncated the line: scrape "name":sec pairs
        pairs = dict((k, float(v)) for k, v in
                     re.findall(r'"([a-z0-9_]+)":([0-9]+\.[0-9]+)', text))
        pairs.pop("value", None)
        if not pairs:
            sys.exit(f"{path}: no bench line found")
        return pairs, None, None
    return best["queries"], best.get("value"), best.get("failed")


def mismatch(old, old_failed, new, new_failed):
    """Why the two runs are not comparable, or None."""
    problems = []
    only_old, only_new = sorted(set(old) - set(new)), sorted(set(new) - set(old))
    if only_old or only_new:
        problems.append(f"query sets differ: only in OLD {only_old}, only in NEW {only_new}")
    # a failed query is timed as -1 (graft.Bench)
    f_old = sorted(q for q, v in old.items() if v < 0)
    f_new = sorted(q for q, v in new.items() if v < 0)
    if f_old != f_new or old_failed != new_failed:
        problems.append(f"failed queries differ: OLD failed={old_failed} {f_old}, "
                        f"NEW failed={new_failed} {f_new}")
    return "; ".join(problems) or None


def main():
    top = 10
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--top" in sys.argv:
        top = int(sys.argv[sys.argv.index("--top") + 1])
        args = args[:2]
    old, old_total, old_failed = load(args[0])
    new, new_total, new_failed = load(args[1])
    why = mismatch(old, old_failed, new, new_failed)
    if why:
        sys.exit(f"refusing to compare {args[0]} with {args[1]}: {why}")
    both = sorted(old)
    print(f"old: {len(old)} queries, total {old_total or sum(old.values()):.2f}s, "
          f"median {statistics.median(old.values()):.2f}s")
    print(f"new: {len(new)} queries, total {new_total or sum(new.values()):.2f}s, "
          f"median {statistics.median(new.values()):.2f}s")
    deltas = sorted(((new[q] - old[q], q) for q in both), reverse=True)
    regress = [(d, q) for d, q in deltas if d > 0.05][:top]
    improve = [(d, q) for d, q in reversed(deltas) if d < -0.05][:top]
    if regress:
        print("worst regressions:")
        for d, q in regress:
            print(f"  {q:32s} {old[q]:6.2f} -> {new[q]:6.2f}  (+{d:.2f}s)")
    if improve:
        print("best improvements:")
        for d, q in improve:
            print(f"  {q:32s} {old[q]:6.2f} -> {new[q]:6.2f}  ({d:.2f}s)")


if __name__ == "__main__":
    main()
