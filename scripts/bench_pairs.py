#!/usr/bin/env python3
"""Pair two checkouts' enginebench runs by seed and compare them.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload ingest

PARENT_DIR and CHANGE_DIR are two checkouts in which
`python3 enginebench/run.py --workload W --seed N --trace 0` has run for
the same seeds. The script reads each checkout's
`.bench_build/enginebench/results/W-seed*-trace0.json`, pairs the runs by
seed and prints, for every end-to-end metric in BENCHMARK.json: the parent
and change medians, change/parent, the pairs the change won (strictly
better, in the metric's `better` direction) out of N, and the parent's
interquartile range (Q3 - Q1, inclusive quartiles). It then prints, per
timed call name in `detail.timed_s` (`drop_small`, `compact_store`, ...),
the median over every call of that name in all paired runs of each side.

It refuses (exit 2) when a result file belongs to another workload, when
the runs were taken with different `--seconds`, or when no seed is on both
sides. Runs that are not `correct` or have failed operations are counted
and named.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def die(msg):
    print(f"bench_pairs: {msg}", file=sys.stderr)
    sys.exit(2)


def load(checkout, workload):
    """seed -> result JSON for every untraced run of `workload` in `checkout`."""
    pattern = os.path.join(checkout, ".bench_build", "enginebench", "results",
                           f"{workload}-seed*-trace0.json")
    runs = {}
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            r = json.load(fh)
        if r.get("workload") != workload:
            die(f"{path} is a {r.get('workload')!r} run, not {workload!r}")
        if r["regime"].get("trace"):
            die(f"{path} is a traced run")
        runs[r["regime"]["seed"]] = r
    return runs


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def timed(runs):
    """name -> every per-call time of that name, over `runs`."""
    out = {}
    for r in runs:
        for item in r["detail"].get("timed_s", []):
            name, _, secs = item.partition("=")
            out.setdefault(name, []).append(float(secs))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = load(a.parent_dir, a.workload), load(a.change_dir, a.workload)
    seconds = {r["regime"]["seconds"] for r in list(parent.values()) + list(change.values())}
    if len(seconds) > 1:
        die(f"runs were taken with different --seconds: {sorted(seconds)}")
    seeds = sorted(set(parent) & set(change))
    if not seeds:
        die(f"no {a.workload} seed has a trace0 run in both checkouts")
    unpaired = sorted(set(parent) ^ set(change))
    ps, cs = [parent[s] for s in seeds], [change[s] for s in seeds]

    print(f"workload {a.workload}, --seconds {seconds.pop()}, {len(seeds)} pairs "
          f"(seeds {', '.join(map(str, seeds))})")
    if unpaired:
        print(f"unpaired seeds, skipped: {', '.join(map(str, unpaired))}")
    for side, rs in (("parent", ps), ("change", cs)):
        bad = [r["regime"]["seed"] for r in rs if not r["correct"] or r["failed"]]
        if bad:
            print(f"{side}: runs not correct or with failures at seeds {bad}")

    print(f"\n{'metric':<20}{'parent':>12}{'change':>12}{'chg/par':>9}{'wins':>8}{'parent IQR':>12}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["end_to_end"][name]["value"] for r in ps]
        c = [r["end_to_end"][name]["value"] for r in cs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        ratio = cm / pm if pm else float("nan")
        print(f"{name:<20}{pm:>12.4g}{cm:>12.4g}{ratio:>9.3f}{wins:>5}/{len(seeds):<2}{iqr(p):>12.4g}")

    pt, ct = timed(ps), timed(cs)
    print(f"\n{'timed call':<20}{'parent':>12}{'change':>12}{'calls':>8}")
    for name in sorted(set(pt) | set(ct)):
        pm = statistics.median(pt[name]) if name in pt else float("nan")
        cm = statistics.median(ct[name]) if name in ct else float("nan")
        print(f"{name:<20}{pm:>12.3f}{cm:>12.3f}{len(ct.get(name, [])):>8}")


if __name__ == "__main__":
    main()
