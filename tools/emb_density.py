#!/usr/bin/env python3
"""Gate + artifact for the dd_embedding density study (r16).

Usage: python3 tools/emb_density.py PROFILE.json... [--recall R]
       [--out EMB_DENSITY.json]

Each PROFILE.json is one graft.ProfileEmb output line (or a log file
containing it): {"profile":"dd_embedding","vecs":N,...,"candidates":C,
"full":S,"cap":K,"cap_candidates":CC,"cap_full":CS,...}.  Points are
sorted by corpus size; the report prints per-point candidate DENSITY
(candidates x 2 / vecs — the per-vector number the r15 verdict tracked:
291 -> 602 per decade under the default dial) and per-decade time
slopes for both dials, normalized as ratio^(1/decades) so a 3x pair and
a 10x pair read on the same axis.

Gates (exit 1 on violation):
  - capped per-vector density <= 2xcap at EVERY point (the structural
    bound: the running-sum budget plus the always-kept first bucket);
  - capped per-decade TIME slope <= 11x on every adjacent pair — i.e.
    near-linear: 10x data on a fixed box may cost up to ~11x, anything
    above is super-linear work the cap exists to remove;
  - --recall R (dd_embedding_capped_planted at a scale point, from the
    "recall" block of graft.Bench's full JSON line) gates at >= 0.95
    when supplied.
"""
import json
import math
import re
import sys

MAX_CAPPED_DENSITY_X = 2.0      # x cap, per vector
MAX_CAPPED_SLOPE_PER_DECADE = 11.0
MIN_PLANTED_RECALL = 0.95


def load_profile(path):
    with open(path) as f:
        for line in f.read().splitlines():
            m = re.search(r'\{"profile":"dd_embedding".*\}', line)
            if m:
                return json.loads(m.group(0))
    raise SystemExit(f"no ProfileEmb JSON line in {path}")


def main():
    args = sys.argv[1:]
    recall = None
    out = "EMB_DENSITY.json"
    if "--recall" in args:
        i = args.index("--recall")
        recall = float(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        args = args[:i] + args[i + 2:]
    pts = sorted((load_profile(p) for p in args), key=lambda d: d["vecs"])
    if len(pts) < 2:
        raise SystemExit("need at least two profile points")
    violations = []
    print("| vecs | planes | density (default) | density (capped) | "
          "full s (default) | full s (capped) |")
    print("|---|---|---|---|---|---|")
    for p in pts:
        dd = 2.0 * p["candidates"] / p["vecs"]
        dc = 2.0 * p["cap_candidates"] / p["vecs"]
        print(f"| {p['vecs']} | {p['planes']} | {dd:.0f} | {dc:.0f} | "
              f"{p['full']:.2f} | {p['cap_full']:.2f} |")
        lim = MAX_CAPPED_DENSITY_X * p["cap"]
        if dc > lim:
            violations.append(
                f"capped density {dc:.0f}/vec > {lim:.0f} at n={p['vecs']} "
                "— the generation bound is broken")
    print()
    for a, b in zip(pts, pts[1:]):
        decades = math.log10(b["vecs"] / a["vecs"])
        if decades <= 0:
            # two profile points at one scale (same profile passed twice,
            # or duplicate runs) — a clean gate message, not the
            # ZeroDivisionError the per-decade normalization would raise
            raise SystemExit(
                f"duplicate/non-increasing scale point: n={a['vecs']} -> "
                f"n={b['vecs']} — pass each scale's profile once, ascending")
        for dial, key in (("default", "full"), ("capped", "cap_full")):
            ratio = b[key] / a[key]
            per_dec = ratio ** (1.0 / decades)
            flag = ""
            if dial == "capped" and per_dec > MAX_CAPPED_SLOPE_PER_DECADE:
                flag = f"  <-- FAIL (> {MAX_CAPPED_SLOPE_PER_DECADE}x/decade)"
                violations.append(
                    f"capped slope {per_dec:.1f}x/decade on "
                    f"{a['vecs']}->{b['vecs']} ({a[key]:.2f}s -> {b[key]:.2f}s)")
            print(f"{a['vecs']} -> {b['vecs']} ({decades:.2f} decades) "
                  f"{dial}: {ratio:.2f}x total = {per_dec:.2f}x/decade{flag}")
        # the density trajectory itself — the r15 verdict's axis
        dd = (b["candidates"] / b["vecs"]) / (a["candidates"] / a["vecs"])
        dc = (b["cap_candidates"] / b["vecs"]) / (a["cap_candidates"] / a["vecs"])
        print(f"{a['vecs']} -> {b['vecs']} density growth: "
              f"default {dd:.2f}x, capped {dc:.2f}x")
    if recall is not None:
        print(f"\nplanted recall (capped dial, scale point): {recall:.3f} "
              f"(floor {MIN_PLANTED_RECALL})")
        if recall < MIN_PLANTED_RECALL:
            violations.append(
                f"capped planted recall {recall:.3f} < {MIN_PLANTED_RECALL}")
    with open(out, "w") as f:
        json.dump({"points": pts, "planted_recall_capped": recall,
                   "gates": {"max_capped_density_x": MAX_CAPPED_DENSITY_X,
                             "max_capped_slope_per_decade":
                                 MAX_CAPPED_SLOPE_PER_DECADE,
                             "min_planted_recall": MIN_PLANTED_RECALL},
                   "violations": violations}, f, indent=1)
    print(f"wrote {out}")
    if violations:
        print("EMB DENSITY GATE: FAIL")
        for v in violations:
            print(f"  - {v}")
        raise SystemExit(1)
    print("EMB DENSITY GATE: PASS")


if __name__ == "__main__":
    main()
