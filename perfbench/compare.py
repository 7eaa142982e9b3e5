#!/usr/bin/env python3
"""Compare a parent and a change on the benchmark, by alternating pairs.

Collect pairs (each pair runs both checkouts on the same seed; the side that
runs first alternates from pair to pair):

    python3 perfbench/compare.py pairs --parent ../parent --change . \\
        --workload cdc_bulk --pairs 10 --out pairs.jsonl

Judge a file of pairs (any number of workloads):

    python3 perfbench/compare.py verdict pairs.jsonl

For each (workload, metric) the verdict prints both sides' median and
quartiles and the change's pair win rate, then applies the rule: a gain needs
at least 10 pairs, wins in at least 9 of 10 pairs (ties count for neither) and
a median gap larger than the parent's interquartile range; a loss is a median
worse than the parent's by more than the metric's bound. When the parent's own
spread is wider than the bound the metric is "unresolved", unless every change
run beats every parent run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(checkout, workload, seed, seconds, trace=0):
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (exit {r.returncode}):\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def collect(a):
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                order.reverse()
            row = {"workload": a.workload, "seed": seed, "first": order[0][0]}
            for side, path in order:
                row[side] = run_once(path, a.workload, seed, seconds)
            out.write(json.dumps(row) + "\n")
            out.flush()
            print(f"pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr)


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def judge(pairs, metric, better, bound):
    par = [p["parent"]["metrics"][metric]["value"] for p in pairs]
    chg = [p["change"]["metrics"][metric]["value"] for p in pairs]
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for x, y in zip(par, chg) if sign * (y - x) > 0)
    losses = sum(1 for x, y in zip(par, chg) if sign * (y - x) < 0)
    pq, cq = quart(par), quart(chg)
    gap = sign * (cq[1] - pq[1])          # > 0: the change is better
    iqr = pq[2] - pq[0]
    spread = iqr / abs(pq[1]) if pq[1] else float("inf")
    all_better = min(sign * y for y in chg) > max(sign * x for x in par)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > iqr:
        verdict = "improved"
    elif -gap > bound * abs(pq[1]):
        verdict = "regressed"
    elif spread > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "no change beyond bound"
    return pq, cq, wins, losses, verdict


def verdict(a):
    rows = [json.loads(l) for l in open(a.pairs_file) if l.strip()]
    spec = json.load(open(a.spec))
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    by_wl = {}
    for r in rows:
        by_wl.setdefault(r["workload"], []).append(r)
    failed = False
    for wl, pairs in sorted(by_wl.items()):
        bad = [p["seed"] for p in pairs
               if not (p["parent"]["correct"] and p["change"]["correct"])]
        print(f"{wl}: {len(pairs)} pairs" + (f"  INCORRECT runs at seeds {bad}" if bad else ""))
        failed |= bool(bad)
        print(f"  {'metric':28s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'wins':>5s} {'loss':>5s}  verdict")
        for name in pairs[0]["parent"]["metrics"]:
            m = metrics.get(name)
            if m is None:
                continue
            pq, cq, w, l, v = judge(pairs, name, m["better"], m.get("bound", 0.0))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {name:28s} {fmt(pq):>30s} {fmt(cq):>30s} {w:5d} {l:5d}  {v}")
    return 1 if failed else 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--seconds", type=int)
    p.add_argument("--out", required=True)
    v = sub.add_parser("verdict")
    v.add_argument("pairs_file")
    v.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    if a.cmd == "pairs":
        collect(a)
    else:
        sys.exit(verdict(a))


if __name__ == "__main__":
    main()
