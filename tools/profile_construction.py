#!/usr/bin/env python
"""Profile DataFrame CONSTRUCTION time per registry query (guide §7.3:
driver-side cost shows up as "nothing running").

For every query, time ``fn(spark, sf_dir)`` WITHOUT any action — that is
py4j chatter, Catalyst analysis, plus any eager fixture work (staging
writes, quantizer collects) the query performs at build time. Queries
whose construction dominates their bench time are driver-bound; their
fix is fewer/cheaper py4j round-trips (selectExpr batching) or removing
eager jobs, not plan shape.

    python tools/profile_construction.py [--min 0.15] [names...]

Prints one line per query sorted by construction seconds (desc).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    min_s = 0.15
    for a in sys.argv[1:]:
        if a.startswith("--min="):
            min_s = float(a.split("=")[1])
    from bench import warm_session
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.registry import QUERIES

    spark, sf_dir, _ = warm_session("fw-profile-construction")

    rows = []
    for name, fn in QUERIES.items():
        if names and name not in names:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            dt = time.perf_counter() - t0
            rows.append((name, dt))
            release_caches(df)
        except Exception as exc:
            print(f"{name} FAILED: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
    rows.sort(key=lambda r: -r[1])
    total = sum(r[1] for r in rows)
    print(f"# construction total: {total:.1f}s over {len(rows)} queries")
    for name, dt in rows:
        if dt >= min_s:
            print(f"{name}: {dt:.3f}")


if __name__ == "__main__":
    main()
