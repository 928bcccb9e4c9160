"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--benchmark BENCHMARK.json]

Each directory holds result files written by ``perfbench/run.py``
(``.perfbench/results/*.json``); only untraced runs are read.  For every
workload x end-to-end metric it prints both sides' median, quartiles and
sample count, the share of seed-matched pairs the new side wins (ties
count for neither side), and a verdict against the metric's bound.  It
also prints each side's median host steal share and host probe time (a
fixed Python loop timed after each run), so a loaded or slower host can
be told apart from slower code.  Verdicts:

* ``REGRESSION``   the new median is worse than the base median by more
                   than the bound;
* ``better``       the new side wins at least 9/10 of the pairs and the
                   medians differ by more than the base's own spread
                   (interquartile distance);
* ``worse``        the same, in the other direction, within the bound;
* ``within spread`` the medians differ by no more than the base spread,
                   and that spread is within the bound;
* ``unresolved``   anything else — typically a spread wider than the
                   bound, or a shift the pairs do not back.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(directory: str) -> dict[str, dict[str, list[tuple[int, float]]]]:
    """workload -> metric -> [(seed, value)] from untraced result files;
    the pseudo-metrics ``steal_share`` (median over the timed rounds) and
    ``host_probe_s`` describe the host, not the engine."""
    out: dict = defaultdict(lambda: defaultdict(list))
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if r.get("stamp", {}).get("trace") or "metrics" not in r:
            continue
        seed = r["stamp"]["seed"]
        for name, m in r["metrics"].items():
            out[r["workload"]][name].append((seed, m["value"]))
        steal = [x.get("steal_share") for x in r["rounds"] if x["timed"]]
        if None not in steal:
            out[r["workload"]]["steal_share"].append(
                (seed, statistics.median(steal)))
        if "host_probe_s" in r["stamp"]:
            out[r["workload"]]["host_probe_s"].append(
                (seed, r["stamp"]["host_probe_s"]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def pair_wins(base, new, lower_is_better: bool) -> tuple[int, int, int]:
    """(new wins, base wins, pairs) over runs matched by seed, in run
    order within a seed."""
    by_seed: dict[int, list[float]] = defaultdict(list)
    for seed, v in base:
        by_seed[seed].append(v)
    wins = losses = pairs = 0
    used: dict[int, int] = defaultdict(int)
    for seed, v in new:
        i = used[seed]
        if i >= len(by_seed.get(seed, [])):
            continue
        used[seed] += 1
        b = by_seed[seed][i]
        pairs += 1
        if v == b:
            continue
        if (v < b) == lower_is_better:
            wins += 1
        else:
            losses += 1
    return wins, losses, pairs


def verdict(base, new, spec: dict) -> dict:
    lower = spec["better"] == "lower"
    bv, nv = [v for _, v in base], [v for _, v in new]
    bq1, bmed, bq3 = quartiles(bv)
    nq1, nmed, nq3 = quartiles(nv)
    wins, losses, pairs = pair_wins(base, new, lower)
    # signed relative change, positive = the new side is worse
    worse_by = ((nmed - bmed) if lower else (bmed - nmed)) / abs(bmed)
    spread = (bq3 - bq1) / abs(bmed)
    all_better = (max(nv) < min(bv)) if lower else (min(nv) > max(bv))
    if worse_by > spec["bound"]:
        word = "REGRESSION"
    elif pairs and wins >= 0.9 * pairs and -worse_by > spread:
        word = "better"
    elif pairs and losses >= 0.9 * pairs and worse_by > spread:
        word = "worse"
    elif abs(worse_by) <= spread <= spec["bound"]:
        word = "within spread"
    elif all_better:
        word = "better"
    else:
        word = "unresolved"
    return {
        "base": (bmed, bq1, bq3, len(bv)), "new": (nmed, nq1, nq3, len(nv)),
        "wins": wins, "pairs": pairs, "worse_by": worse_by,
        "spread": spread, "verdict": word,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCHMARK.json"))
    args = p.parse_args(argv)
    with open(args.benchmark) as f:
        bench = json.load(f)
    base, new = load(args.base), load(args.new)
    regressions = 0
    print(f"{'workload':14s} {'metric':12s} {'base median [q1, q3] n':34s} "
          f"{'new median [q1, q3] n':34s} {'wins':>7s} {'worse_by':>8s} "
          f"{'spread':>7s}  verdict")
    for wl in bench["workloads"]:
        for host, fmt in (("steal_share", "{:.1%}"), ("host_probe_s", "{:.3f} s")):
            vals = [[v for _, v in side.get(wl["name"], {}).get(host, [])]
                    for side in (base, new)]
            if all(vals):
                print(f"{wl['name']:14s} host {host} (median): base "
                      + fmt.format(statistics.median(vals[0])) + ", new "
                      + fmt.format(statistics.median(vals[1])))
        for spec in bench["end_to_end"]:
            b = base.get(wl["name"], {}).get(spec["name"], [])
            n = new.get(wl["name"], {}).get(spec["name"], [])
            if not b or not n:
                print(f"{wl['name']:14s} {spec['name']:12s} missing "
                      f"(base {len(b)}, new {len(n)} runs)")
                continue
            v = verdict(b, n, spec)
            regressions += v["verdict"] == "REGRESSION"
            side = "{:.4g} [{:.4g}, {:.4g}] {}"
            print(f"{wl['name']:14s} {spec['name']:12s} "
                  f"{side.format(*v['base']):34s} {side.format(*v['new']):34s} "
                  f"{v['wins']:>3d}/{v['pairs']:<3d} {v['worse_by']:+8.1%} "
                  f"{v['spread']:7.1%}  {v['verdict']}")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
