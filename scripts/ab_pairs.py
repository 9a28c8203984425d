#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark in two checkouts.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR \
        [--workload catalog_core] [--pairs 10] [--seconds 10] \
        [--out runs.jsonl] [--from runs.jsonl]

Pair i runs `perfbench/run.py --seed i` once in each checkout; the order
flips every pair so drift over the session falls on both sides. Every
run's result line is appended to --out as it lands. --from skips the
runs and reports on a saved file.

For each workload and each end-to-end metric of BENCHMARK.json it prints
the parent's and the change's median and quartiles, the pairs the change
won, and two verdicts:
  claim  the change wins at least 9 of every 10 pairs, and its median is
         better than the parent's by more than the parent's IQR;
  bound  the change's median is not worse than the parent's by more than
         the metric's bound (a fraction of the parent's median).
It also compares failed operations. Nothing under perfbench/ is changed.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs, spec):
    ok = True
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        done = [p for _, p in sorted(pairs.items())
                if "parent" in p and "change" in p]
        good = [p for p in done
                if "error" not in p["parent"] and "error" not in p["change"]]
        print(f"\n== {w}: {len(good)} complete pairs "
              f"({len(done) - len(good)} with a failed run)")
        for p in done:
            for side in ("parent", "change"):
                if "error" in p[side]:
                    ok = False
                    print(f"   {side} run failed: {p[side]['error']}")
        if not good:
            continue
        for side in ("parent", "change"):
            failed = sum(p[side]["failed"] for p in good)
            attempted = sum(p[side]["attempted"] for p in good)
            print(f"   {side}: {failed} of {attempted} operations failed")
        pf = sum(p["parent"]["failed"] for p in good)
        cf = sum(p["change"]["failed"] for p in good)
        if cf > pf:
            ok = False
            print("   FAIL: the change fails more operations")
        print(f"   {'metric':<12} {'parent median [q1, q3]':>30} "
              f"{'change median [q1, q3]':>30} {'delta':>7} {'wins':>6}  "
              "claim bound")
        need = math.ceil(0.9 * len(good))
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            higher = m["better"] == "higher"
            a = [p["parent"]["metrics"][name]["value"] for p in good]
            b = [p["change"]["metrics"][name]["value"] for p in good]
            qa, qb = quartiles(a), quartiles(b)
            better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
            wins = sum(better(y, x) for x, y in zip(a, b))
            gain = (qb[1] - qa[1]) if higher else (qa[1] - qb[1])
            claim = wins >= need and gain > qa[2] - qa[0]
            worse = -gain / qa[1] if qa[1] else 0.0
            within = worse <= bound
            ok = ok and within
            delta = (qb[1] / qa[1] - 1) * 100 if qa[1] else 0.0
            cell = "{1:.4g} [{0:.4g}, {2:.4g}]".format
            print(f"   {name:<12} {cell(*qa):>30} {cell(*qb):>30} "
                  f"{delta:>+6.1f}% {wins:>2}/{len(good):<3} "
                  f"{'yes' if claim else 'no':>5} "
                  f"{'ok' if within else 'FAIL':>5}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append",
                    help="repeat for several; default every workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="append each run's result here (JSONL)")
    ap.add_argument("--from", dest="source",
                    help="report on saved runs instead of running")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    runs = []
    if args.source:
        with open(args.source) as f:
            runs = [json.loads(ln) for ln in f if ln.strip()]
        runs = [r for r in runs if r["workload"] in workloads]
    else:
        for w in workloads:
            for seed in range(1, args.pairs + 1):
                order = ["parent", "change"]
                if seed % 2 == 0:
                    order.reverse()
                for side in order:
                    checkout = args.parent if side == "parent" else args.change
                    res = run_once(checkout, w, seed, args.seconds)
                    r = {"workload": w, "seed": seed, "side": side,
                         "result": res}
                    runs.append(r)
                    print(f"{w} seed {seed} {side}: "
                          f"{res.get('error') or 'ok'}", file=sys.stderr)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps(r) + "\n")
    sys.exit(0 if report(runs, spec) else 1)


if __name__ == "__main__":
    main()
