#!/usr/bin/env python3
"""Compare a parent and a change on every workload, from alternating runs.

    python3 perfbench/compare.py --parent ../parent --change . [--pairs 10]

`--parent` and `--change` are two checkouts that carry the same `perfbench/`
directory (copy the change's `perfbench/` and `BENCHMARK.json` into the
parent's checkout first, so only the program differs). Each pair runs both
sides with the same seed, and the side that runs first alternates from pair
to pair. Seeds are 1, 2, ..., `--pairs`.

For each workload and metric it prints each side's median and quartiles and
how many pairs the change won, then a verdict:

- `gain`: the change won at least nine tenths of the pairs (ties count for
  neither side) and the medians differ by more than the parent's own spread
  (the distance between its quartiles);
- `worse`: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- `unresolved`: the parent's spread is wider than the bound, so "no change"
  cannot be told from a change the size of the bound;
- `same`: none of the above.

Per-layer metrics (`--trace 1`) have no bound; they get `gain` or `same`.
`--out FILE` keeps every run's result as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{checkout}: {workload} seed {seed} produced wrong output")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = {m["name"]: m for m in spec["end_to_end" if a.trace == 0 else "per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]

    raw = {}
    for w in workloads:
        sides = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = i + 1
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = a.parent if side == "parent" else a.change
                sides[side].append(run(checkout, w, seed, seconds, a.trace))
            print(f"[compare] {w}: pair {i + 1}/{a.pairs} done", file=sys.stderr, flush=True)
        raw[w] = sides

        print(f"\n== {w} ({a.pairs} pairs, seeds 1..{a.pairs})")
        print(f"{'metric':32s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
              f" {'wins':>6s}  verdict")
        for name, m in metrics.items():
            p = [r[name] for r in sides["parent"] if name in r]
            c = [r[name] for r in sides["change"] if name in r]
            if not p or len(p) != len(c):
                continue
            lower = m.get("better", "lower") == "lower"
            wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
            pq1, pmed, pq3 = quartiles(p)
            cq1, cmed, cq3 = quartiles(c)
            spread = pq3 - pq1
            worse_by = (cmed - pmed) if lower else (pmed - cmed)
            bound = m.get("bound")
            if wins >= 0.9 * len(p) and abs(cmed - pmed) > spread:
                verdict = "gain"
            elif bound is not None and pmed and worse_by > bound * abs(pmed):
                verdict = "worse"
            elif bound is not None and pmed and spread > bound * abs(pmed):
                verdict = "unresolved"
            else:
                verdict = "same"
            unit = m.get("unit", "")
            print(f"{name:32s} {pmed:12.4f} [{pq1:.4f}, {pq3:.4f}] {cmed:12.4f} "
                  f"[{cq1:.4f}, {cq3:.4f}] {wins:3d}/{len(p):<2d}  {verdict} ({unit})")

    if a.out:
        with open(a.out, "w") as f:
            json.dump(raw, f, indent=1)


if __name__ == "__main__":
    main()
