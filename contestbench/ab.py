#!/usr/bin/env python3
"""Interleaved A/B: the same benchmark code against two program trees,
parent and change, alternated in one window on one box.

    python3 contestbench/ab.py --parent ../parent-checkout --workload contest-batch \\
        [--change .] [--pairs 10] [--seconds 8] [--seed 1000]

Pair i runs both sides on seed (--seed + i), parent first on even pairs and
change first on odd ones. For each end-to-end metric it prints each side's
median and quartiles, the fraction of pairs the change won (ties count for
neither), and whether a gain could be claimed: the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
own quartile spread. Each side builds into its own directory under
contestbench/.work/ab-build/.
"""

import argparse
import json
import os
import subprocess
import sys

import run
import stats


def one_run(side, root, workload, seed, seconds):
    env = dict(os.environ, BENCH_PROGRAM_ROOT=os.path.abspath(root),
               BENCH_BUILD_DIR=os.path.join(run.WORK_DIR, "ab-build", side))
    cmd = [sys.executable, os.path.join(run.BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=run.BUILD_TIMEOUT_S + run.JVM_TIMEOUT_S + 60)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def won(better, change, parent):
    if change == parent:
        return 0
    return 1 if (change > parent) == (better == "higher") else -1


def summarize(results, pairs):
    """results: {side: [result or None per pair]} → printable rows."""
    rows = []
    for name, (unit, better) in run.END_TO_END.items():
        sides = {}
        for side in ("parent", "change"):
            vals = [r["metrics"][name]["value"] for r in results[side] if r]
            sides[side] = vals
        both = [(c["metrics"][name]["value"], p["metrics"][name]["value"])
                for c, p in zip(results["change"], results["parent"]) if c and p]
        wins = sum(1 for c, p in both if won(better, c, p) > 0)
        row = {"metric": name, "unit": unit, "better": better, "pairs": len(both),
               "change_won": wins / pairs if pairs else 0.0}
        for side, vals in sides.items():
            if len(vals) >= 2:
                q1, q2, q3 = stats.quartiles(vals)
                row[side] = {"median": q2, "q1": q1, "q3": q3, "runs": len(vals)}
        if "parent" in row and "change" in row:
            gap = abs(row["change"]["median"] - row["parent"]["median"])
            parent_iqr = row["parent"]["q3"] - row["parent"]["q1"]
            row["gain_claimable"] = (row["change_won"] >= 0.9 and gap > parent_iqr
                                     and won(better, row["change"]["median"],
                                             row["parent"]["median"]) > 0)
        rows.append(row)
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="program source tree of the parent")
    ap.add_argument("--change", default=os.path.join(run.BENCH_DIR, ".."),
                    help="program source tree of the change (default: this checkout)")
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=1000)
    args = ap.parse_args(argv)

    roots = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = one_run(side, roots[side], args.workload, args.seed + i, args.seconds)
            if r is None or not r["correct"]:
                failed[side] += 1
            results[side].append(r)
            print(f"pair {i} {side}: " + ("FAILED" if r is None else json.dumps(
                {n: round(m["value"], 4) for n, m in r["metrics"].items()})), flush=True)
    rows = summarize(results, args.pairs)
    print(f"workload {args.workload}: {args.pairs} pairs, failed or incorrect runs "
          f"parent={failed['parent']} change={failed['change']}")
    for row in rows:
        sides = "  ".join(
            f"{s} median {row[s]['median']:.6g} [q1 {row[s]['q1']:.6g}, q3 {row[s]['q3']:.6g}]"
            for s in ("parent", "change") if s in row)
        print(f"{row['metric']} ({row['unit']}, {row['better']} is better): {sides}  "
              f"change won {row['change_won']:.0%} of pairs"
              + ("  GAIN CLAIMABLE" if row.get("gain_claimable") else ""))
    print(json.dumps({"workload": args.workload, "failed": failed, "metrics": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
