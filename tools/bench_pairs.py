#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts.

    python3 tools/bench_pairs.py OLD_DIR NEW_DIR --workload W --pairs N --seed0 S
                                 [--seconds 12] [--trace 0]

Runs `perfbench/run.py` from each checkout once per pair, pair i on seed
S + i, alternating which checkout runs first (OLD first on even pairs). Each
checkout builds its own program on its first run. Every run prints one JSON
line on stdout as it finishes; the end is a table with, for each metric the
benchmark declares, both sides' median and quartiles and the change's
win/tie/loss count against the paired OLD run, then one JSON summary line.

A metric counts as a gain when NEW wins at least nine tenths of the pairs
(ties count for neither side) and the medians differ by more than the
distance between OLD's quartiles. Failed runs are reported and left out of
the statistics; the exit code is 1 if any run failed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "failed": None, "metrics": {}}
    ok = p.returncode == 0 and result.get("correct") and not result.get("failed")
    return ok, {k: v["value"] for k, v in result.get("metrics", {}).items()}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def spread(median, q):
    return f"{median:.4g} [{q[0]:.4g}, {q[1]:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old_dir")
    ap.add_argument("new_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    dirs = {"old": os.path.abspath(a.old_dir), "new": os.path.abspath(a.new_dir)}
    with open(os.path.join(dirs["new"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] if a.trace == "0" else bench["per_layer"]
    better = {m["name"]: m["better"] for m in declared}

    pairs, failures = [], []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("old", "new") if i % 2 == 0 else ("new", "old")
        got = {}
        for side in order:
            ok, metrics = run_once(dirs[side], a, seed)
            print(json.dumps({"pair": i, "seed": seed, "side": side, "ok": ok,
                              "metrics": metrics}), flush=True)
            if ok:
                got[side] = metrics
            else:
                failures.append({"pair": i, "seed": seed, "side": side})
        if len(got) == 2:
            pairs.append(got)

    summary = {}
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {a.pairs}, seeds "
          f"{a.seed0}..{a.seed0 + a.pairs - 1}, {len(failures)} failed runs")
    print(f"{'metric':<26}{'old median [q1, q3]':>30}{'new median [q1, q3]':>30}"
          f"{'change':>9}{'W/T/L':>9}  gain")
    for name, direction in better.items():
        olds = [p["old"][name] for p in pairs if name in p["old"] and name in p["new"]]
        news = [p["new"][name] for p in pairs if name in p["old"] and name in p["new"]]
        if not olds:
            continue
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for o, n in zip(olds, news) if sign * (o - n) > 0)
        ties = sum(1 for o, n in zip(olds, news) if o == n)
        losses = len(olds) - wins - ties
        om, nm = statistics.median(olds), statistics.median(news)
        oq, nq = quartiles(olds), quartiles(news)
        gain = wins >= 0.9 * len(olds) and sign * (om - nm) > oq[1] - oq[0]
        change = (nm / om - 1) if om else float("nan")
        summary[name] = {"old_median": om, "old_q": oq, "new_median": nm, "new_q": nq,
                         "wins": wins, "ties": ties, "losses": losses, "gain": gain}
        wtl = f"{wins}/{ties}/{losses}"
        print(f"{name:<26}{spread(om, oq):>30}{spread(nm, nq):>30}{change:>+9.1%}{wtl:>9}"
              f"  {'yes' if gain else 'no'}")
    print(json.dumps({"workload": a.workload, "pairs": len(pairs), "failures": failures,
                      "metrics": summary}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
