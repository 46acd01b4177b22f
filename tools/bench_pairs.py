#!/usr/bin/env python3
"""Alternating before/after pairs of perfbench runs, summarised per metric.

Usage:
    python3 tools/bench_pairs.py PARENT_CHECKOUT CHANGE_CHECKOUT \\
        --workload csv_exec|pg_serve|federate --seeds 1-10 [--seeds 21,23] \\
        [--seconds 8] [--trace 0|1]

For each seed it runs ``python3 perfbench/run.py`` once in each checkout,
parent first on odd seeds and change first on even ones, so neither tree
always runs second. Each run's last stdout line is its JSON result; its
``detail steal_pct`` line is kept too. It prints one line per pair (seed,
order, steal, correctness), then a markdown table with, per metric, the
parent and change medians with Q1-Q3, the change in %, how many pairs the
change won, and each side's highest ``steal_pct``. The table also has a row
for each ``detail`` line (per-id p50s such as ``cli_query_1_p50_ms``) and,
with ``--trace 1``, each ``layer`` line (such as
``fed.remote_stmts_per_query``) that every run printed. A metric's
direction (lower or higher is better) comes from the change checkout's
BENCHMARK.json; a detail or layer line not named there is better higher
when its name ends in ``_per_s``, else lower. Exit 1 if any run fails, is
not ``correct``, or fails an operation.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(specs):
    seeds = []
    for spec in specs:
        for part in spec.split(","):
            lo, _, hi = part.partition("-")
            seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run: (result JSON, steal_pct, {detail or layer name: value}),
    with None for the result on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    lines_by_name = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 3 and parts[0] in ("detail", "layer"):
            try:
                lines_by_name[parts[1]] = float(parts[2])
            except ValueError:
                pass
    steal = lines_by_name.get("steal_pct")
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}\n")
        return None, steal, lines_by_name
    return json.loads(lines[-1]), steal, lines_by_name


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(x):
    return f"{x:,.4g}" if abs(x) < 1000 else f"{x:,.1f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", action="append", required=True,
                    help="seed list: N, N-M or comma-separated; repeatable")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    runs = {"parent": [], "change": []}
    extra = {"parent": [], "change": []}  # detail and layer lines per run
    steals = {"parent": [], "change": []}
    ok = True
    for seed in parse_seeds(a.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        pair, pair_steal, pair_extra = {}, {}, {}
        for side in order:
            pair[side], pair_steal[side], pair_extra[side] = run_once(
                getattr(a, side), a.workload, seed, a.seconds, a.trace)
            if pair_steal[side] is not None:
                steals[side].append(pair_steal[side])
        status = []
        for side in ("parent", "change"):
            res = pair[side]
            good = res is not None and res["correct"] and res["failed"] == 0
            ok &= good
            status.append(f"{side} " + ("ok" if good else "FAILED") +
                          ("" if res is None else f" ({res['attempted']} ops, {res['failed']} failed)"))
        print(f"seed {seed}: {' first, '.join(order)} second; " + "; ".join(status) +
              f"; steal_pct parent {pair_steal['parent']}, change {pair_steal['change']}",
              flush=True)
        if pair["parent"] is not None and pair["change"] is not None:
            for side in ("parent", "change"):
                runs[side].append({k: v["value"] for k, v in pair[side]["metrics"].items()})
                extra[side].append(pair_extra[side])

    n = len(runs["parent"])
    if n == 0:
        sys.exit("no complete pair")
    print(f"\n{a.workload}, {n} pairs, max steal_pct parent "
          f"{max(steals['parent'], default=float('nan')):.3g} / change "
          f"{max(steals['change'], default=float('nan')):.3g}\n")

    def everywhere(table, skip=()):
        """The names every run of both sides has, in the first run's order."""
        return [k for k in table["parent"][0] if k not in skip and k != "steal_pct"
                and all(k in m for side in table.values() for m in side)]

    rows = [(k, runs) for k in everywhere(runs)]
    rows += [(k, extra) for k in sorted(everywhere(extra, skip=runs["parent"][0]))]
    print("| metric | parent median (Q1–Q3) | change median (Q1–Q3) | change | change better |")
    print("|---|---|---|---|---|")
    for name, table in rows:
        par = [m[name] for m in table["parent"]]
        chg = [m[name] for m in table["change"]]
        default = "higher" if name.endswith("_per_s") else "lower"
        sign = -1 if better.get(name, default) == "lower" else 1
        wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
        mp, mc = statistics.median(par), statistics.median(chg)
        pct = f"{100 * (mc - mp) / mp:+.1f} %" if mp else "n/a"
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        print(f"| `{name}` | {fmt(mp)} ({fmt(p1)}–{fmt(p3)}) | {fmt(mc)} ({fmt(c1)}–{fmt(c3)})"
              f" | {pct} | {wins} / {n} |")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
