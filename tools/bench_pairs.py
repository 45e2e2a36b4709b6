#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, summarized per end-to-end metric.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload W \\
        --pairs N [--seconds 5] [--seed-base S]

Runs `python3 perfbench/run.py --workload W --seed S+i --seconds SEC` in
both checkouts for pair i = 0..N-1, the two runs of a pair on the same
seed, alternating which checkout goes first (even pairs: parent first).
Each run's last stdout line is perfbench's JSON summary; its end-to-end
metrics are read from it. The metric names, their direction (`better`)
and their relative `bound` come from BENCHMARK.json in the change
checkout. For each metric the summary prints the parent's median and
[q1, q3], the change's median, the pairs the change won (strictly better
within the pair) and whether the change's median is within the bound of
the parent's: no worse than parent * (1 + bound) for lower-is-better,
no worse than parent * (1 - bound) for higher-is-better. A run that
fails or prints no summary is reported and left out of its pair.
"""
import argparse
import json
import os
import subprocess
import sys


def quantile(values, q):
    """Linear-interpolation quantile of `values` at q in [0, 1] (the
    'inclusive' definition: q=0 is the minimum, q=1 the maximum)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(pairs, better, bound):
    """One metric's summary over complete pairs [(parent, change), ...].

    `better` is "lower" or "higher"; `bound` is the relative slack the
    change's median may lose against the parent's median."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    p_med, c_med = quantile(parent, 0.5), quantile(change, 0.5)
    if better == "lower":
        won = sum(c < p for p, c in pairs)
        within = c_med <= p_med * (1 + bound)
    else:
        won = sum(c > p for p, c in pairs)
        within = c_med >= p_med * (1 - bound)
    return {"parent_median": p_med, "parent_q1": quantile(parent, 0.25),
            "parent_q3": quantile(parent, 0.75), "change_median": c_med,
            "won": won, "pairs": len(pairs), "within_bound": within}


def run_once(checkout, workload, seed, seconds):
    """perfbench's end-to-end metrics {name: value} for one run, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    res = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    if res.returncode != 0 or not lines:
        tail = (res.stderr or res.stdout).strip().splitlines()[-3:]
        print(f"  run failed in {checkout} (seed {seed}, exit {res.returncode}): "
              + " | ".join(tail), file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    return {k: v["value"] for k, v in out["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--seed-base", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    pairs = {m["name"]: [] for m in metrics}
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {side: run_once(d, a.workload, seed, a.seconds) for side, d in order}
        print(f"pair {i} seed {seed} ({order[0][0]} first): "
              + json.dumps(got, sort_keys=True), flush=True)
        if got["parent"] is None or got["change"] is None:
            continue
        for m in metrics:
            pairs[m["name"]].append((got["parent"][m["name"]], got["change"][m["name"]]))
    print(f"workload {a.workload}: {a.pairs} pairs requested")
    for m in metrics:
        if not pairs[m["name"]]:
            print(f"{m['name']}: no complete pair")
            continue
        s = summarize(pairs[m["name"]], m["better"], m["bound"])
        print(f"{m['name']} ({m['better']} is better, bound {m['bound']}): "
              f"parent {s['parent_median']:.6g} [{s['parent_q1']:.6g}, "
              f"{s['parent_q3']:.6g}], change {s['change_median']:.6g}, "
              f"won {s['won']}/{s['pairs']}, "
              f"{'within' if s['within_bound'] else 'OUTSIDE'} bound")


if __name__ == "__main__":
    main()
