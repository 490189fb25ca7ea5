#!/usr/bin/env python3
"""A/B the benchmark: a parent revision against the working tree.

Usage (from the root of a checkout):

    tools/ab.py --parent <rev> --workload <ref_queries|report_stream> --seeds <a>-<b>

Extracts `git archive <rev>` into `$TMPDIR/graft-ab-<sha>` (reused when
present), builds both sides once, then runs one pair of
`perfbench/run.py --workload <w> --seed <s> --seconds 12 --trace 0` per
seed, parent and change alternating which goes first on each pair. Each
run's hypervisor steal share is read from /proc/stat around it (read only).

Prints, per end-to-end metric of BENCHMARK.json: each side's median
[q1, q3], the pairs the change won, and the change's worsening against the
metric's bound; then the failed-operation share per side and every run
whose steal exceeded 4 %. Raw results go to `ab-<workload>.jsonl` in the
parent's extraction directory. Nothing under perfbench/ is modified.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEAL_FLAG = 0.04


def cpu_times():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def extract(rev):
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(tempfile.gettempdir(), f"graft-ab-{sha[:12]}")
    if not os.path.isfile(os.path.join(dest, "perfbench", "run.py")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {rev} failed")
    return dest


def build(side_root):
    """Builds a side's engine and harness through perfbench's own build step,
    so no pair pays for compilation."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    subprocess.run([sys.executable, "-c", code], cwd=side_root, check=True,
                   stdout=subprocess.DEVNULL)


def run_once(side_root, workload, seed):
    steal0, total0 = cpu_times()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "12", "--trace", "0"],
        cwd=side_root, capture_output=True, text=True)
    steal1, total1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-2000:])
        sys.exit(f"ab: run failed in {side_root} (seed {seed}, rc {proc.returncode})")
    res["steal"] = steal
    return res


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q2, q1, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True, choices=("ref_queries", "report_stream"))
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    parent_root = extract(a.parent)
    sides = {"parent": parent_root, "change": ROOT}
    for root in sides.values():
        build(root)
    log_path = os.path.join(parent_root, f"ab-{a.workload}.jsonl")
    runs = {"parent": [], "change": []}
    with open(log_path, "a") as log:
        for i, seed in enumerate(range(lo, hi + 1)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(sides[side], a.workload, seed)
                res.update(side=side, seed=seed)
                runs[side].append(res)
                log.write(json.dumps(res) + "\n")
                log.flush()
                vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                                for m in metrics)
                print(f"seed {seed} {side:6s} steal {100 * res['steal']:4.1f}% "
                      f"failed {res['failed']}/{res['attempted']} {vals}", file=sys.stderr)

    print(f"{a.workload}: {hi - lo + 1} pairs, parent {a.parent} vs working tree "
          f"(median [q1, q3]; change wins; change worse by / bound)")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        (pm, pq1, pq3), (cm, cq1, cq3) = quartiles(p), quartiles(c)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        worse = (cm / pm - 1) if lower else (pm / cm - 1)
        verdict = "ok" if worse <= m["bound"] else "EXCEEDS BOUND"
        print(f"  {name:18s} parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cm:.4g} [{cq1:.4g}, {cq3:.4g}]  wins {wins}/{len(p)}  "
              f"worse {100 * worse:+.1f}% / {100 * m['bound']:.0f}% {verdict}")
    for side, rs in runs.items():
        failed, attempted = sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)
        print(f"  failed {side}: {failed}/{attempted}")
    noisy = [f"{r['side']} seed {r['seed']} ({100 * r['steal']:.1f}%)"
             for side in runs for r in runs[side] if r["steal"] > STEAL_FLAG]
    print(f"  steal > {100 * STEAL_FLAG:.0f}%: {', '.join(noisy) if noisy else 'none'}")
    print(f"  raw results: {log_path}")


if __name__ == "__main__":
    main()
