#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark on two checkouts.

Runs `perfbench/run.py --trace 0` on one workload alternately in a parent
checkout and a change checkout, N pairs, pair i on seed SEED0 + i with the
measuring window BENCHMARK.json fixes (`run_seconds`) on both sides; the side
that runs first alternates from pair to pair so a drift in machine load does
not favour one side. Then, for each end-to-end metric BENCHMARK.json
declares, it prints:

  - each side's median and quartiles (q1, q3) over its runs;
  - the change's wins out of the pairs run: pairs where it read better than
    the parent on the same seed (ties, and pairs with a failed side, count
    as no win);
  - whether the gap between the medians exceeds the parent's interquartile
    range (q3 - q1);
  - `claim holds` when the change wins at least 9 in 10 of the pairs run,
    the median gap exceeds the parent's interquartile range, and the change
    failed no more runs than the parent.

It also prints each side's median `attempted` over its successful runs: the
run's timed ops plus its output checks (a fixed number per workload), so it
moves with the number of samples behind a per-op figure such as `op_cpu_s`.

Usage (from anywhere; both checkouts must hold perfbench/ and BENCHMARK.json):

  python3 tools/perf_pairs.py --parent ../parent --change . \\
      --workload etl_incremental --pairs 10 --seed0 101

Each checkout builds into its own .bench_build/ unless CARGO_TARGET_DIR is
set. A run that exits non-zero or reports failed checks is listed and its
pair left out of the medians; every run's metrics go to stderr. The exit
code is 1 when any run failed.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds):
    """One benchmark run: (result JSON or None, wall seconds, stderr tail)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    res = None
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if lines:
        try:
            res = json.loads(lines[-1])
        except json.JSONDecodeError:
            res = None
    if p.returncode != 0 or res is None or res.get("failed", 1) != 0:
        return None, wall, (p.stderr.strip().splitlines() or [""])[-1]
    return res, wall, ""


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric, better, pairs, n_run, failed):
    """Per-metric comparison: medians over the pairs where both sides
    succeeded, wins out of all `n_run` pairs, `failed` runs per side."""
    ok = [(p[metric], c[metric]) for p, c in pairs]
    par = [p for p, _ in ok]
    chg = [c for _, c in ok]
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in ok if sign * (p - c) > 0)
    losses = sum(1 for p, c in ok if sign * (p - c) < 0)
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    gap = sign * (pmed - cmed)  # > 0: the change's median is better
    iqr = pq3 - pq1
    return {
        "metric": metric, "better": better, "n": n_run,
        "parent": {"median": pmed, "q1": pq1, "q3": pq3},
        "change": {"median": cmed, "q1": cq1, "q3": cq3},
        "wins": wins, "losses": losses,
        "median_gap": gap, "parent_iqr": iqr,
        "gap_exceeds_iqr": gap > iqr,
        "ratio": cmed / pmed if pmed else math.nan,
        "claim_holds": (wins >= math.ceil(0.9 * n_run) and gap > iqr
                        and failed["change"] <= failed["parent"]),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]

    pairs, failures = [], []
    attempted = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            res, wall, err = run_once(checkout, args.workload, seed, seconds)
            if res is None:
                failures.append({"pair": i, "seed": seed, "side": side, "error": err})
                print(f"pair {i} seed {seed} {side}: FAILED ({wall:.0f} s) {err}", file=sys.stderr)
                continue
            got[side] = {m: res["metrics"][m]["value"] for m, _ in metrics}
            attempted[side].append(res["attempted"])
            vals = " ".join(f"{m}={got[side][m]:.4g}" for m, _ in metrics)
            print(f"pair {i} seed {seed} {side}: {vals} attempted={res['attempted']} "
                  f"({wall:.0f} s)", file=sys.stderr)
        if len(got) == 2:
            pairs.append((got["parent"], got["change"]))

    failed = {side: sum(f["side"] == side for f in failures) for side in ("parent", "change")}
    print(f"workload {args.workload}: {len(pairs)} complete pairs of {args.pairs}, "
          f"seeds {args.seed0}..{args.seed0 + args.pairs - 1}, --seconds {seconds}, "
          f"failed runs: parent {failed['parent']}, change {failed['change']}")
    print("attempted per run (timed ops + checks), median [min, max]: " + ", ".join(
        f"{side} {statistics.median(xs):g} [{min(xs)}, {max(xs)}]" if xs else f"{side} none"
        for side, xs in attempted.items()))
    if pairs:
        for m, better in metrics:
            s = summarize(m, better, pairs, args.pairs, failed)
            p, c = s["parent"], s["change"]
            print(f"{m} ({better} is better): "
                  f"parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]  "
                  f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]  "
                  f"ratio {s['ratio']:.3f}  wins {s['wins']}/{s['n']} (losses {s['losses']})  "
                  f"median gap {s['median_gap']:.4g} vs parent IQR {s['parent_iqr']:.4g}: "
                  f"{'exceeds' if s['gap_exceeds_iqr'] else 'does not exceed'}  "
                  f"claim {'holds' if s['claim_holds'] else 'does not hold'}")
    for f in failures:
        print(f"failed run: pair {f['pair']} seed {f['seed']} {f['side']}: {f['error']}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
