#!/usr/bin/env python3
"""Gate + artifact for the TEXT-dedup density study (r17 — the text
analog of tools/emb_density.py, closing the r16 verdict's ask #4:
dd_simhash/dd_cluster/dd_containment had only the committed sf0.1->sf1
pair where the embedding family had three measured points).

Usage: python3 tools/text_density.py PROFILE.json... [--out TEXT_DENSITY.json]

Each PROFILE.json is one graft.ProfileText output line (or a log file
containing it): {"profile":"text_dedup","docs":N,"minhash":{...},...}.
Points are sorted by corpus size; the report prints per-point candidate
DENSITY (candidates / docs) and per-decade time slopes per family.

The corpus generator (ScaleUp.replicateDocuments, ScaleUp's salt
scheme, which ProfileText calls) holds TRUE duplicate density constant by construction, so any
density growth measured here is the algorithm's own.

Gates (exit 1 on violation):
  - per-decade FULL-time slope <= MAX_SLOPE_PER_DECADE (11x: 10x data
    on a fixed box may cost ~11x; beyond that is super-linear work);
  - per-decade candidate-DENSITY growth <= MAX_DENSITY_GROWTH_PER_DECADE
    (3x; the embedding study's uncapped dial measured ~2x/decade and
    that was the round's one super-linear finding — text families are
    expected flat because their blocking keys are content hashes whose
    selectivity does not degrade with corpus size).
"""
import json
import math
import re
import sys

MAX_SLOPE_PER_DECADE = 11.0
MAX_DENSITY_GROWTH_PER_DECADE = 3.0

# family -> (candidate-count field, denominator field)
FAMILIES = {
    "minhash": ("candidates", "docs"),
    "simhash": ("candidates", "docs"),
    "containment": ("candidates", "docs"),
    "cluster": ("edges", "reps"),
}


def load_profile(path):
    with open(path) as f:
        for line in f.read().splitlines():
            m = re.search(r'\{"profile":"text_dedup".*\}', line)
            if m:
                return json.loads(m.group(0))
    raise SystemExit(f"no ProfileText JSON line in {path}")


def denom(pt, fam, field):
    return pt[fam][field] if field != "docs" else pt["docs"]


def main():
    args = sys.argv[1:]
    out = "TEXT_DENSITY.json"
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        args = args[:i] + args[i + 2:]
    pts = sorted((load_profile(p) for p in args), key=lambda d: d["docs"])
    if len(pts) < 2:
        raise SystemExit("need at least two profile points")
    violations = []
    hdr = "| docs | " + " | ".join(
        f"{f} cand-per-{FAMILIES[f][1].rstrip('s')} | {f} full s"
        for f in FAMILIES) + " |"
    print(hdr)
    print("|" + "---|" * (1 + 2 * len(FAMILIES)))
    for p in pts:
        cells = []
        for fam, (cf, df) in FAMILIES.items():
            d = p[fam][cf] / max(1, denom(p, fam, df))
            cells += [f"{d:.1f}", f"{p[fam]['full']:.2f}"]
        print(f"| {p['docs']} | " + " | ".join(cells) + " |")
    print()
    for a, b in zip(pts, pts[1:]):
        decades = math.log10(b["docs"] / a["docs"])
        if decades <= 0:
            raise SystemExit(
                f"duplicate/non-increasing scale point: docs={a['docs']} -> "
                f"{b['docs']} — pass each scale's profile once, ascending")
        for fam, (cf, df) in FAMILIES.items():
            ratio = b[fam]["full"] / a[fam]["full"]
            per_dec = ratio ** (1.0 / decades)
            da = a[fam][cf] / max(1, denom(a, fam, df))
            db = b[fam][cf] / max(1, denom(b, fam, df))
            dgrow = (db / da) ** (1.0 / decades) if da > 0 else float("inf")
            flags = []
            if per_dec > MAX_SLOPE_PER_DECADE:
                flags.append(f"TIME {per_dec:.1f}x/dec > {MAX_SLOPE_PER_DECADE}")
                violations.append(
                    f"{fam}: time slope {per_dec:.1f}x/decade on "
                    f"{a['docs']}->{b['docs']} "
                    f"({a[fam]['full']:.2f}s -> {b[fam]['full']:.2f}s)")
            if dgrow > MAX_DENSITY_GROWTH_PER_DECADE:
                flags.append(
                    f"DENSITY {dgrow:.1f}x/dec > {MAX_DENSITY_GROWTH_PER_DECADE}")
                violations.append(
                    f"{fam}: candidate density {dgrow:.1f}x/decade on "
                    f"{a['docs']}->{b['docs']} ({da:.0f} -> {db:.0f} per row)")
            tag = f"  <-- FAIL ({'; '.join(flags)})" if flags else ""
            print(f"{a['docs']} -> {b['docs']} ({decades:.2f} dec) {fam}: "
                  f"time {ratio:.2f}x = {per_dec:.2f}x/dec, "
                  f"density {da:.0f} -> {db:.0f} ({dgrow:.2f}x/dec){tag}")
    with open(out, "w") as f:
        json.dump({"points": pts,
                   "gates": {"max_slope_per_decade": MAX_SLOPE_PER_DECADE,
                             "max_density_growth_per_decade":
                                 MAX_DENSITY_GROWTH_PER_DECADE},
                   "violations": violations}, f, indent=1)
    print(f"wrote {out}")
    if violations:
        print("TEXT DENSITY GATE: FAIL")
        for v in violations:
            print(f"  - {v}")
        raise SystemExit(1)
    print("TEXT DENSITY GATE: PASS")


if __name__ == "__main__":
    main()
