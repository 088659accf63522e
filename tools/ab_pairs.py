#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a parent checkout against a change.

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> --workload W --seeds A-B

For each seed in A..B (inclusive) it runs `perfbench/run.py --workload W
--seed N --seconds 5 --trace 0` once in each checkout, one run at a
time, alternating which side goes first (even pairs: parent first). It
then prints, per end-to-end metric of BENCHMARK.json: each side's
median and interquartile range, the change/parent ratio of the medians,
the pairs the change won (ties count for neither side) and a verdict:

  gain        at least 10 pairs ran, the change won at least 9 of every
              10 and the medians differ by more than the parent's IQR
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  neither, and the parent's IQR is wider than the bound
              (the runs spread too widely to call it unchanged), unless
              every change run beat every parent run
  unchanged   neither, and the spread is within the bound

With fewer than 10 pairs a metric the change would otherwise gain on
reads `too few pairs`: the rule needs ten.

Each checkout must carry its own build: a checkout whose
perfbench/target/launch/classpath.txt names build outputs (any entry
under a `target/` directory) outside the checkout is refused, with the
offending path. A `cp -a` copy of a checkout carries the original's
build stamp and launch files, and run.py would then silently run the
original's jars. Make the parent checkout with `git clone` or
`git archive` instead.

It also prints each op's median time per side (the `ms` field the
end-to-end op metrics are computed from), from the per-op
detail run.py leaves in the checkout (an op that runs more than once in
a pass is numbered by its position: `point.cow`, `point.cow#2`, ...),
so a change in an end-to-end metric can be traced to the ops that moved.

Runs that report `correct: false` or failed ops are listed and make the
exit code 1. Every run's result line and per-op medians are appended to
<change-checkout>/.bench_build/ab_pairs-<W>.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def fail(msg):
    print(f"ab_pairs: {msg}", file=sys.stderr)
    sys.exit(2)


def check_launch(checkout):
    """Refuses a checkout whose recorded classpath runs another
    checkout's build outputs."""
    cp = os.path.join(checkout, "perfbench", "target", "launch", "classpath.txt")
    if not os.path.exists(cp):
        return
    root = os.path.realpath(checkout) + os.sep
    with open(cp) as f:
        for entry in filter(None, (line.strip() for line in f)):
            if f"{os.sep}target{os.sep}" in entry and not os.path.realpath(entry).startswith(root):
                fail(f"{cp} names {entry}, a build output outside {checkout}: this checkout "
                     "would run another checkout's jars. Delete its perfbench/target and "
                     ".bench_build, or make it with git clone")


def run(checkout, workload, seed):
    """One benchmark run; returns its result object."""
    check_launch(checkout)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    check_launch(checkout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        fail(f"run.py in {checkout} (seed {seed}) exited with {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


def op_medians(checkout, workload):
    """Each op's median `ms` over the passes of the run just made."""
    detail = os.path.join(checkout, ".bench_build", "perfbench", f"work-{workload}", "detail.json")
    with open(detail) as f:
        passes = json.load(f)["passes"]
    per_op = {}
    for p in passes:
        seen = {}
        for op in p["ops"]:
            seen[op["name"]] = seen.get(op["name"], 0) + 1
            label = op["name"] + (f"#{seen[op['name']]}" if seen[op["name"]] > 1 else "")
            per_op.setdefault(label, []).append(op["ms"])
    return {label: statistics.median(ms) for label, ms in per_op.items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, lower_better, bound):
    """(pairs the change won, verdict) for one metric's paired runs."""
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(1 for p, c in zip(parent, change) if better(c, p))
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    iqr = p3 - p1
    worse_by = (cm - pm) / pm if lower_better else (pm - cm) / pm
    if wins * 10 >= 9 * len(parent) and better(cm, pm) and abs(cm - pm) > iqr:
        return wins, "gain" if len(parent) >= 10 else "too few pairs"
    if worse_by > bound:
        return wins, "regression"
    all_better = all(better(c, p) for c in change for p in parent)
    if iqr / pm > bound and not all_better:
        return wins, "unresolved"
    return wins, "unchanged"


def main():
    ap = argparse.ArgumentParser(description="paired parent/change benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B, e.g. 501-510")
    a = ap.parse_args()
    try:
        lo, hi = (int(s) for s in a.seeds.split("-"))
    except ValueError:
        fail(f"--seeds must be A-B, got {a.seeds}")
    if hi < lo:
        fail(f"--seeds range {a.seeds} is empty")
    sides = {"parent": a.parent, "change": a.change}
    for name, checkout in sides.items():
        if not os.path.isfile(os.path.join(checkout, "perfbench", "run.py")):
            fail(f"{checkout} ({name}) has no perfbench/run.py")
        check_launch(checkout)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    log = os.path.join(a.change, ".bench_build", f"ab_pairs-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = {"parent": [], "change": []}
    ops = {"parent": [], "change": []}
    broken = []
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed)
            results[side].append(r)
            ops[side].append(op_medians(sides[side], a.workload))
            if not r.get("correct") or r.get("failed", 0):
                broken.append(f"{side} seed {seed}")
            with open(log, "a") as f:
                f.write(json.dumps({"side": side, "seed": seed, "result": r,
                                    "op_ms": ops[side][-1]}) + "\n")
            vals = " ".join(f"{k}={v['value']:.1f}" for k, v in sorted(r["metrics"].items()))
            print(f"ab_pairs: seed {seed} {side}: {vals}", file=sys.stderr)

    n = hi - lo + 1
    print(f"{a.workload}: {n} pairs, seeds {lo}-{hi}")
    print(f"{'metric':<16} {'parent median [IQR]':>26} {'change median [IQR]':>26} "
          f"{'ratio':>6} {'won':>6}  verdict")
    for m in e2e:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for r in results["parent"]]
        change = [r["metrics"][name]["value"] for r in results["change"]]
        p1, pm, p3 = quartiles(parent)
        c1, cm, c3 = quartiles(change)
        wins, v = verdict(parent, change, m["better"] == "lower", m["bound"])
        ratio = cm / pm if pm else float("nan")
        print(f"{name:<16} {pm:>12.4g} [{p3 - p1:>9.3g}] {cm:>14.4g} [{c3 - c1:>9.3g}] "
              f"{ratio:>6.3f} {wins:>3}/{n:<2}  {v}")
    print(f"\n{'op':<16} {'parent ms':>10} {'change ms':>10} {'ratio':>6} {'won':>6}")
    for label in ops["parent"][0]:
        parent = [o[label] for o in ops["parent"] if label in o]
        change = [o[label] for o in ops["change"] if label in o]
        wins = sum(1 for p, c in zip(parent, change) if c < p)
        pm, cm = statistics.median(parent), statistics.median(change)
        print(f"{label:<16} {pm:>10.1f} {cm:>10.1f} {cm / pm if pm else float('nan'):>6.3f} "
              f"{wins:>3}/{len(parent):<2}")
    if broken:
        print(f"incorrect or failed runs: {', '.join(broken)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
