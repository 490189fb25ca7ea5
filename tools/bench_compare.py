#!/usr/bin/env python3
"""Compare two graft.Bench artifacts query by query, as a markdown table.

Usage: python3 tools/bench_compare.py A.json B.json

Each file is a `bench_last.json` (the three lines graft.Bench writes; the
first carries the per-query `queries` seconds and `jobs` counts). Prints one
row per query measured in both runs: seconds in A and B, the ratio B/A, Spark
jobs in A and B, and their ratio, sorted by the seconds ratio (largest
first). A query that failed or went unmeasured in either run is listed below
the table. A scaling sweep is two Bench runs at two SF dirs (see SCALING.md).
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        for line in fh:
            art = json.loads(line)
            if "queries" in art:
                return art
    sys.exit(f"bench_compare: {path} has no artifact line with a queries map")


def ratio(b, a):
    return b / a if a > 0 else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for name, art in (("A", a), ("B", b)):
        flags = "".join(f", {k}" for k in ("partial", "only") if k in art)
        print(f"{name}: {art['sf']} ({len(art['queries'])} queries{flags})")
    qa, qb = a["queries"], b["queries"]
    ja, jb = a.get("jobs", {}), b.get("jobs", {})
    both = [q for q in qa if q in qb and qa[q] >= 0 and qb[q] >= 0]
    rows = sorted(both, key=lambda q: -ratio(qb[q], qa[q]))
    print()
    print("| query | A s | B s | s ratio | A jobs | B jobs | jobs ratio |")
    print("|---|---:|---:|---:|---:|---:|---:|")
    for q in rows:
        jobs = [ja.get(q), jb.get(q)]
        jr = f"{ratio(jobs[1], jobs[0]):.2f}x" if None not in jobs else "—"
        js = ["—" if j is None else str(j) for j in jobs]
        print(f"| {q} | {qa[q]:.3f} | {qb[q]:.3f} | {ratio(qb[q], qa[q]):.2f}x"
              f" | {js[0]} | {js[1]} | {jr} |")
    if rows:
        ta, tb = sum(qa[q] for q in rows), sum(qb[q] for q in rows)
        med = statistics.median(ratio(qb[q], qa[q]) for q in rows)
        print(f"\n{len(rows)} queries: total {ta:.1f} s -> {tb:.1f} s "
              f"({ratio(tb, ta):.2f}x), median ratio {med:.2f}x")
    missing = sorted((set(qa) | set(qb)) - set(both))
    if missing:
        print("\nnot measured in both: " + ", ".join(
            f"{q} (A {qa.get(q, 'absent')}, B {qb.get(q, 'absent')})" for q in missing))


if __name__ == "__main__":
    main()
