#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent and change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the standard output of `perfbench/run.py`, one file
per run, named `<workload>-<seed>.<anything>` (for example
`curate-3.out`); the last line of each file is the run's JSON result.
For every workload and every end-to-end metric of BENCHMARK.json this
prints both sets' median and quartiles, how many same-seed pairs the
change won, and a verdict:

  regressed   the change's median is worse than the parent's by more
              than the metric's bound (what the benchmark gate rejects)
  improved    the change's quartile range lies wholly on the better side
              of the parent's and it wins at least 3 of 4 pairs
  unchanged   the two quartile ranges overlap
  unresolved  anything else (moved beyond the noise, but not clearly)

It also reports each set's error rate (failed / attempted operations)
and flags any rise.
"""
import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def load(d):
    """{workload: {seed: result}} from a directory of run outputs."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sorted((w["name"] for w in spec["workloads"]), key=len, reverse=True)
    runs = {}
    for f in sorted(pathlib.Path(d).iterdir()):
        w = next((n for n in names if f.name.startswith(n + "-")), None)
        if w is None or not f.is_file():
            continue
        lines = [l for l in f.read_text().splitlines() if l.strip()]
        if not lines:
            continue
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            continue
        seed = f.name[len(w) + 1:].split(".")[0]
        runs.setdefault(w, {})[seed] = res
    return spec, runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    pv = [r["metrics"][metric["name"]]["value"] for r in parent.values()]
    cv = [r["metrics"][metric["name"]]["value"] for r in change.values()]
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    seeds = sorted(set(parent) & set(change))
    won = sum(1 for s in seeds
              if (change[s]["metrics"][metric["name"]]["value"] <
                  parent[s]["metrics"][metric["name"]]["value"]) == lower)
    better_side = c3 < p1 if lower else c1 > p3
    worse_side = c1 > p3 if lower else c3 < p1
    if worse > metric["bound"]:
        v = "regressed"
    elif better_side and seeds and won * 4 >= 3 * len(seeds):
        v = "improved"
    elif not better_side and not worse_side:
        v = "unchanged"
    else:
        v = "unresolved"
    return (p1, pm, p3), (c1, cm, c3), worse, f"{won}/{len(seeds)}", v


def error_rate(runs):
    att = sum(r["attempted"] for r in runs.values())
    return sum(r["failed"] for r in runs.values()) / att if att else 0.0


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec, parent = load(sys.argv[1])
    _, change = load(sys.argv[2])
    worst = "unchanged"
    for w in (x["name"] for x in spec["workloads"]):
        if w not in parent or w not in change:
            print(f"{w}: missing runs (parent {len(parent.get(w, {}))}, change {len(change.get(w, {}))})")
            continue
        print(f"{w}: {len(parent[w])} parent runs, {len(change[w])} change runs")
        print(f"  {'metric':12s} {'parent q1 / median / q3':>32s} {'change q1 / median / q3':>32s}"
              f" {'worse':>7s} {'won':>5s}  verdict")
        for m in spec["end_to_end"]:
            p, c, worse, won, v = verdict(m, parent[w], change[w])
            fmt = lambda q: f"{q[0]:9.3f} {q[1]:10.3f} {q[2]:9.3f}"
            print(f"  {m['name']:12s} {fmt(p):>32s} {fmt(c):>32s} {worse:+7.1%} {won:>5s}  {v}"
                  f"  (bound {m['bound']:.0%}, {m['unit']}, {m['better']} is better)")
            if v == "regressed":
                worst = "regressed"
        pe, ce = error_rate(parent[w]), error_rate(change[w])
        flag = "  ROSE" if ce > pe else ""
        print(f"  error_rate   parent {pe:.4f}  change {ce:.4f}{flag}")
        if ce > pe:
            worst = "regressed"
    sys.exit(1 if worst == "regressed" else 0)


if __name__ == "__main__":
    main()
