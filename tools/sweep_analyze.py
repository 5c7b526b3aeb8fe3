"""Compare the sf1 sweep against the sf0.1 bench: per-query cost curves.

The sf1 fixture (tools/gen_testdata.py) holds 10x the rows of
/root/testdata/sf0.1, so a query whose cost is linear in input should
land near 10x wall-time MINUS the fixed per-query overhead (session,
planning, micro-batch scheduling) that dominates at sf0.1. To separate
data cost from overhead we report, per query:

    ratio   = sf1_sec / sf0.1_sec          (raw; <=1 means pure overhead)
    bend    = ratio > BEND_RATIO           (flag: grew faster than linear
                                            would predict after overhead)

Since most sf0.1 timings ARE mostly overhead (median ~0.6s), a linear
query typically shows ratio well under 10. We flag ratio > 12 as a bend
candidate (super-linear even if sf0.1 had ZERO overhead), and print the
top-N by sf1 wall-time regardless so the profile is visible.

The sf0.1 side is this host's entry in the bench record file, found by
bench.py's fingerprint of ``$SPARK_GRAFT_SF_DIR``/``$SPARK_GRAFT_CPUS``
(the defaults of a plain ``python bench.py``). With no entry for this host
the script exits non-zero and lists the recorded host keys.

Usage:
    python tools/sweep_analyze.py [--sweep SWEEP_SF1.json]
        [--bench BENCH_LOCAL.json] [--top 25]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench as bench_py  # noqa: E402

BEND_RATIO = 12.0


def family(name: str) -> str:
    for fam, members in FAMILIES.items():
        if any(name.startswith(m) for m in members):
            return fam
    return "other"


FAMILIES = {
    "streaming": ["q68", "q69", "q150", "q165", "q166", "q167", "q168",
                  "q169", "q170", "q172", "q173", "q174", "q175", "q176"],
    "dedup": ["q30", "q31", "q32", "q33", "q34", "q42", "q43", "q98",
              "q103", "q110", "q115", "q134", "q135", "q145"],
    "decontaminate": ["q88", "q129", "q146"],
    "ann": ["q35", "q36", "q102", "q119", "q128", "q149", "q159"],
    "ranking/text": ["q82", "q83", "q84", "q85", "q86", "q87", "q90",
                     "q97", "q104", "q120", "q136", "q153", "q154",
                     "q155", "q157"],
    "events": ["q160", "q161", "q162", "q163", "q164", "q79"],
    "io/formats": ["q116", "q117", "q121", "q122", "q123", "q124", "q125",
                   "q133", "q141", "q144", "q151", "q152", "q171"],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sweep", default=os.path.join(REPO, "SWEEP_SF1.json"))
    ap.add_argument("--bench", default=bench_py.RECORD_PATH)
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    sweep = json.load(open(args.sweep))["queries"]
    records = json.load(open(args.bench))
    key = bench_py.host_key(bench_py.fingerprint(*bench_py.bench_params()))
    if key not in records:
        sys.exit(
            f"no record for this host ({key}) in {args.bench}; recorded: "
            + "; ".join(records)
        )
    bench = records[key]["queries"]

    rows = []
    for name, rec in sweep.items():
        s1 = rec.get("spark_sec")
        s01 = bench.get(name)
        if s1 is None:
            continue
        ratio = (s1 / s01) if s01 else None
        rows.append((name, s1, s01, ratio, rec.get("ok")))

    nfail = sum(1 for r in rows if not r[4])
    total1 = sum(r[1] for r in rows)
    total01 = sum(r[2] for r in rows if r[2])
    print(f"{len(rows)} queries; sf1 total {total1:.0f}s "
          f"(sf0.1 bench total {total01:.0f}s); failures: {nfail}")

    print(f"\n== top {args.top} by sf1 wall-time ==")
    for name, s1, s01, ratio, ok in sorted(rows, key=lambda r: -r[1])[: args.top]:
        flag = "" if ok else "  ** FAIL **"
        r = f"{ratio:5.1f}x" if ratio else "    — "
        print(f"  {name:40s} {s1:7.1f}s  (sf0.1 {s01 or 0:5.2f}s, {r}) "
              f"[{family(name)}]{flag}")

    bends = [r for r in rows if r[3] and r[3] > BEND_RATIO]
    print(f"\n== bend candidates (ratio > {BEND_RATIO}x on 10x rows) ==")
    if not bends:
        print("  none")
    for name, s1, s01, ratio, _ in sorted(bends, key=lambda r: -r[3]):
        print(f"  {name:40s} {ratio:5.1f}x  ({s01:.2f}s -> {s1:.1f}s) "
              f"[{family(name)}]")

    print("\n== per-family totals ==")
    fams: dict = {}
    for name, s1, s01, _, _ in rows:
        f = fams.setdefault(family(name), [0.0, 0.0, 0])
        f[0] += s1
        f[1] += s01 or 0
        f[2] += 1
    for fam, (t1, t01, n) in sorted(fams.items(), key=lambda kv: -kv[1][0]):
        r = f"{t1 / t01:4.1f}x" if t01 else "  — "
        print(f"  {fam:16s} n={n:3d}  sf1 {t1:7.1f}s  sf0.1 {t01:6.1f}s  {r}")


if __name__ == "__main__":
    main()
