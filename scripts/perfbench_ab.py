#!/usr/bin/env python3
"""A/B of two source trees on one perfbench workload.

    python3 scripts/perfbench_ab.py PARENT_TREE CHANGE_TREE --workload kv_read --pairs 10

Runs N pairs of `perfbench/run.py --workload W --seed S --seconds T` — one
run in each tree per pair, one run at a time, the side that goes first
alternating pair by pair, seed S = --seed + pair index, T = BENCHMARK.json's
run_seconds — and prints, for every end-to-end metric of BENCHMARK.json:
each side's median and quartiles, the pairs the change won, tied and lost,
and a verdict:

  gain        the change won at least 9 of 10 pairs (ties count for
              neither side) and the medians differ, in the better
              direction, by more than the parent's interquartile range;
  regression  the change's median is worse than the parent's by more than
              the metric's BENCHMARK.json bound;
  unresolved  not a regression, but the parent's own spread (IQR over
              median) is wider than the bound, and not every change run
              beats every parent run;
  ok          otherwise.

The per-op-kind medians the runs print (`get_p50_ms`, `scan_p50_ms`, ...)
are summarised too; they are not gated. A run that gives no result, or a
wrong answer ("correct": false, run.py's exit status 1), stops the A/B with
that run's output and no verdict: a fast wrong answer is not a gain.
BENCHMARK.json is read from the change tree. The script itself writes
nothing; `run.py` builds into its own tree's `perfbench/.build` as usual.

    python3 scripts/perfbench_ab.py PARENT_TREE CHANGE_TREE --workload cdc_drain --pairs 1 --trace

--trace runs the pairs traced (`run.py --trace 1`, which also writes each
tree's `perfbench/out/trace-<workload>.json`) and prints, per side, the
medians and quartiles of the per-layer counts in TRACE_METRICS (the result's
metrics, which run.py also prints as `metric <name> <value> <unit>` lines)
and the change's median minus the parent's. It gives no end-to-end verdict: tracing itself slows a run
(about 20% on kv_read). It answers "does the change issue the same work".
"""
import argparse
import json
import math
import os
import re
import subprocess
import sys

GAIN_SHARE = 0.9
OP_LINE = re.compile(r"^(\w+_p50_ms) (\S+) ms\b")
TRACE_METRICS = ("spark.jobs_per_op", "spark.tasks_per_op", "spark.actions_per_op",
                 "spark.codegen_compiles")


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics
    (numpy's default); a single sample is its own quartiles."""
    s = sorted(xs)
    if not s:
        raise ValueError("quartiles of no samples")

    def at(p):
        pos = p * (len(s) - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return at(0.25), at(0.5), at(0.75)


def better(a, b, direction):
    """True when value a is better than b for a metric whose `better` is
    "lower" or "higher"."""
    return a < b if direction == "lower" else a > b


def pair_outcomes(parent, change, direction):
    """(wins, ties, losses) of the change over the parent, pair by pair."""
    wins = ties = losses = 0
    for p, c in zip(parent, change):
        if c == p:
            ties += 1
        elif better(c, p, direction):
            wins += 1
        else:
            losses += 1
    return wins, ties, losses


def verdict(parent, change, direction, bound):
    """The metric's verdict (see the module docstring) and its figures."""
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins, ties, losses = pair_outcomes(parent, change, direction)
    iqr = pq3 - pq1
    # signed relative move, positive = worse
    worse = (cmed - pmed) if direction == "lower" else (pmed - cmed)
    rel_worse = worse / abs(pmed) if pmed else (0.0 if worse == 0 else math.inf)
    spread = iqr / abs(pmed) if pmed else 0.0
    all_better = all(better(c, p, direction) for c in change for p in parent)
    if wins >= GAIN_SHARE * len(parent) and worse < 0 and -worse > iqr:
        v = "gain"
    elif rel_worse > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "ok"
    return v, {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
               "wins": wins, "ties": ties, "losses": losses,
               "ratio": cmed / pmed if pmed else math.nan}


class BadRun(Exception):
    """A run that printed no result or a wrong answer."""


def parse_run(stdout):
    """The run's result object (its last stdout line) and the per-op-kind
    medians it printed; BadRun unless the result is marked correct."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise BadRun("run printed nothing")
    try:
        res = json.loads(lines[-1])
    except ValueError:
        raise BadRun("run printed no result")
    if res.get("correct") is not True:
        raise BadRun("run gave a wrong answer (\"correct\": %s)" % json.dumps(res.get("correct")))
    ops = {}
    for l in lines:
        m = OP_LINE.match(l)
        if m:
            ops[m.group(1)] = float(m.group(2))
    return res, ops


def layer_medians(parent, change, names=TRACE_METRICS):
    """[(name, parent quartiles, change quartiles, change median - parent
    median)] over each side's run results, for each name both sides
    report."""
    rows = []
    for name in names:
        par = [r["metrics"][name]["value"] for r in parent if name in r["metrics"]]
        chg = [r["metrics"][name]["value"] for r in change if name in r["metrics"]]
        if par and chg:
            pq, cq = quartiles(par), quartiles(chg)
            rows.append((name, pq, cq, cq[1] - pq[1]))
    return rows


def run_once(tree, workload, seed, seconds, trace=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       universal_newlines=True)
    try:
        if p.returncode != 0:
            raise BadRun("run.py exited %d" % p.returncode)
        return parse_run(p.stdout)
    except BadRun as e:
        sys.exit("%s, seed %d: %s; no verdict\n%s" % (tree, seed, e, p.stdout[-2000:]))


def fmt(q):
    return "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", action="store_true",
                    help="traced runs: per-layer count medians, no end-to-end verdict")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            tree = args.parent if side == "parent" else args.change
            res, ops = run_once(tree, args.workload, seed, spec["run_seconds"], args.trace)
            runs[side].append((res, ops))
            print("pair %d seed %d %s: failed %d/%d %s %s" % (
                i + 1, seed, side, res["failed"], res["attempted"],
                " ".join("%s=%.4g" % (k, m["value"]) for k, m in sorted(res["metrics"].items())),
                " ".join("%s=%.4g" % kv for kv in sorted(ops.items()))), flush=True)
    print()
    for side in ("parent", "change"):
        att = sum(r["attempted"] for r, _ in runs[side])
        fail = sum(r["failed"] for r, _ in runs[side])
        print("%s: %d of %d operations failed" % (side, fail, att))
    if args.trace:
        print("traced runs: per-layer medians only, no end-to-end verdict")
        print("%-24s %-30s %-30s %s" % ("metric", "parent median [q1, q3]",
                                        "change median [q1, q3]", "change - parent"))
        for name, pq, cq, diff in layer_medians([r for r, _ in runs["parent"]],
                                                [r for r, _ in runs["change"]]):
            print("%-24s %-30s %-30s %+.4g" % (name, fmt(pq), fmt(cq), diff))
        return
    print("%-20s %-30s %-30s %6s %9s  %s" % ("metric", "parent median [q1, q3]",
                                            "change median [q1, q3]", "ratio", "w/t/l", "verdict"))
    for m in spec["end_to_end"]:
        name = m["name"]
        par = [r["metrics"][name]["value"] for r, _ in runs["parent"]]
        chg = [r["metrics"][name]["value"] for r, _ in runs["change"]]
        v, f = verdict(par, chg, m["better"], m["bound"])
        print("%-20s %-30s %-30s %6.3f %3d/%d/%-3d  %s" % (
            name, fmt(f["parent"]), fmt(f["change"]), f["ratio"],
            f["wins"], f["ties"], f["losses"], v))
    kinds = sorted(set(k for _, o in runs["parent"] + runs["change"] for k in o))
    for k in kinds:
        par = [o[k] for _, o in runs["parent"] if k in o]
        chg = [o[k] for _, o in runs["change"] if k in o]
        if par and chg:
            print("%-20s %-30s %-30s %6.3f  (not gated)" % (
                k, fmt(quartiles(par)), fmt(quartiles(chg)),
                quartiles(chg)[1] / quartiles(par)[1] if quartiles(par)[1] else math.nan))


if __name__ == "__main__":
    main()
