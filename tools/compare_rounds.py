#!/usr/bin/env python3
"""Probe-normalized cross-round bench comparison (r19, verdict ask #2).

The sandbox host class changes between rounds — r17/r18 both measured
the box 2-3x slower per core at ZERO load (hypervisor steal, invisible
to loadavg), so raw cross-round per-key diffs mostly measure the box,
not the code. The correction has lived in prose ("read through the
probe ratio"); this tool makes it mechanical.

Every BENCH json since r15 embeds two noise probes run inside the same
JVM as the keys: a pure-CPU probe (noise.secs, 5 samples) and a
shuffle probe (noise.shuffle_secs, 5 samples). Their minima are the
host's steady-state unit costs for the two resources every key blends.
Between two rounds the host-attributable movement of any key therefore
lies between the CPU ratio and the shuffle ratio; a key whose raw
ratio falls OUTSIDE that envelope (x a tolerance band for the probes'
own in-run spread) moved more than the box did — a real code/plan
change, flagged for isolated arbitration (tools/arbitrate.py).

  python3 tools/compare_rounds.py OLD_BENCH.json NEW_BENCH.json
      [--band 1.3] [--min-secs 0.5] [--json FILE]

When both records carry Bench's per-key "jobs" map (the Spark job
count of each key's minimum run), the table gains a "jobs" column,
old -> new, and the summary sums them over the keys both sides counted
(-1 marks a count that was not taken and is left out of the sums).

Flags ONLY normalized-band violations; everything inside the envelope
prints as host movement. --min-secs (default 0.5, both sides) keeps
sub-scheduling-floor keys out — their ratios are scheduling jitter,
not workload. Exit 0 always (a report, not a gate — the gate is
scaling.py; arbitration decides flagged keys).
"""
import argparse
import re
import json
import sys


def load(path):
    try:
        d = json.load(open(path))
    except json.JSONDecodeError as e:
        raise SystemExit(f"{path}: not valid JSON ({e}) — expected a "
                         "full bench record (the one Bench prints as a "
                         "single JSON line and the session saves as "
                         "BENCH.json / BENCH_sf1.json)")
    if "queries" not in d:
        # r20 (verdict ask #7): the driver's BENCH_r*.json files are a
        # TRUNCATED wrapper ({n, rc, tail, ...}) around the run's stdout
        # tail — name the format and point at the archived full record
        # instead of a bare "no queries" error.
        if "tail" in d:
            hint = ""
            m = re.search(r'"full"\s*:\s*"([^"]+)"', d.get("tail") or "")
            if m:
                hint = (f" — its full-format twin was written as "
                        f"'{m.group(1)}' at run time (committed copies "
                        "are archived under docs/history/)")
            raise SystemExit(
                f"{path}: this is a driver-side truncated round wrapper "
                f"(tail format), not a full bench record{hint}")
        raise SystemExit(f"{path}: no 'queries' block — not a full bench "
                         "record (compact BENCH_r*.json lines truncate; "
                         "use the full BENCH*.json)")
    return d


def probe_ratio(a, b, field):
    na, nb = a.get("noise") or {}, b.get("noise") or {}
    sa, sb = na.get(field), nb.get(field)
    if not sa or not sb:
        return None
    return min(sb) / min(sa)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--band", type=float, default=1.3,
                    help="tolerance multiplier on the probe envelope "
                         "(the probes' own in-run spread is ~1.2-1.4x)")
    ap.add_argument("--min-secs", type=float, default=0.5,
                    help="ignore keys under this on BOTH sides "
                         "(scheduling-floor jitter)")
    ap.add_argument("--json", help="write the machine-readable reading")
    ap.add_argument("--arbitrate", action="store_true",
                    help="r20 (verdict ask #8): after the report, shell "
                         "into tools/arbitrate.py --keys <flagged> so "
                         "every beyond-band key gets its isolated "
                         "fresh-JVM re-measure filed in the same session")
    ap.add_argument("--arbitration-out", default="ARBITRATION.json",
                    help="output file for --arbitrate")
    args = ap.parse_args()

    a, b = load(args.old), load(args.new)
    cpu = probe_ratio(a, b, "secs")
    shuf = probe_ratio(a, b, "shuffle_secs")
    if cpu is None or shuf is None:
        print("WARNING: one side has no embedded noise probes (pre-r15 "
              "bench) — falling back to an unnormalized envelope of 1.0")
        cpu = cpu if cpu is not None else 1.0
        shuf = shuf if shuf is not None else 1.0
    lo = min(1.0, cpu, shuf) / args.band
    hi = max(1.0, cpu, shuf) * args.band
    print(f"host probes: cpu x{cpu:.2f}, shuffle x{shuf:.2f} "
          f"({args.old} -> {args.new})")
    print(f"normalized band: a key's raw ratio inside [{lo:.2f}, "
          f"{hi:.2f}] is host movement, outside is flagged\n")

    qa, qb = a["queries"], b["queries"]
    ja, jb = a.get("jobs"), b.get("jobs")
    jobs = ja is not None and jb is not None
    rows, flagged, skipped = [], [], []
    for k in sorted(set(qa) & set(qb)):
        ta, tb = qa[k], qb[k]
        if ta <= 0 or tb <= 0:
            skipped.append((k, "failed/absent on one side"))
            continue
        if ta < args.min_secs and tb < args.min_secs:
            skipped.append((k, f"under {args.min_secs}s both sides"))
            continue
        r = tb / ta
        out = "" if lo <= r <= hi else ("FASTER" if r < lo else "SLOWER")
        rows.append((r, k, ta, tb, out))
        if out:
            flagged.append({"key": k, "old_s": ta, "new_s": tb,
                            "ratio": round(r, 3), "direction": out,
                            "band": [round(lo, 3), round(hi, 3)]})
    rows.sort(reverse=True)
    print("| key | old s | new s | ratio | vs band |"
          + (" jobs |" if jobs else ""))
    print("|---|---|---|---|---|" + ("---|" if jobs else ""))
    for r, k, ta, tb, out in rows:
        print(f"| {k} | {ta:.2f} | {tb:.2f} | {r:.2f}x "
              f"| {out or 'host'} |"
              + (f" {ja.get(k, '-')} -> {jb.get(k, '-')} |" if jobs else ""))
    only = set(qa) ^ set(qb)
    if only:
        print(f"\nkeys on one side only (not compared): {sorted(only)}")
    if skipped:
        print(f"\nskipped ({len(skipped)}): " + "; ".join(
            f"{k} ({why})" for k, why in skipped))
    if jobs:
        both = [k for k in sorted(set(qa) & set(qb))
                if ja.get(k, -1) >= 0 and jb.get(k, -1) >= 0]
        print(f"\njobs summed over the {len(both)} keys counted on both "
              f"sides: {sum(ja[k] for k in both)} -> "
              f"{sum(jb[k] for k in both)}")
    print(f"\n{len(flagged)} flagged beyond the normalized band"
          + (":" if flagged else ""))
    for f in flagged:
        print(f"  {f['key']}: {f['old_s']:.2f}s -> {f['new_s']:.2f}s "
              f"({f['ratio']}x, band [{f['band'][0]}, {f['band'][1]}]) "
              f"{f['direction']} — arbitrate with tools/arbitrate.py "
              f"--keys {f['key']}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"old": args.old, "new": args.new,
                       "cpu_ratio": round(cpu, 4),
                       "shuffle_ratio": round(shuf, 4),
                       "band": [round(lo, 4), round(hi, 4)],
                       "min_secs": args.min_secs,
                       "flagged": flagged}, fh, indent=1)
        print(f"\nwrote {args.json}")
    if args.arbitrate:
        if not flagged:
            print("\n--arbitrate: nothing flagged — no arbitration "
                  "needed")
        else:
            import os
            import subprocess
            keys = ",".join(sorted({f["key"] for f in flagged}))
            cmd = [sys.executable,
                   os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "arbitrate.py"),
                   "--keys", keys, "--out", args.arbitration_out]
            print(f"\n--arbitrate: running {' '.join(cmd)}")
            rc = subprocess.call(cmd)
            if rc == 0:
                print(f"arbitration filed: {args.arbitration_out}")
            else:
                print(f"arbitrate.py FAILED (exit {rc}) — file the "
                      "arbitration manually")
                return rc
    return 0


if __name__ == "__main__":
    sys.exit(main())
