#!/usr/bin/env python
"""Time a subset of registry queries under bench conditions (the warm
session of bench.warm_session, noop-write materialize, caches released
after each rep).

    python tools/time_query.py q174_stream_restart [q167_... ...] [--reps N]

Prints per-rep wall seconds to stdout. Used for regression bisects —
bench.py stays the only writer of BENCH_LOCAL.json.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=")[1])
    from bench import warm_session
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.registry import QUERIES

    spark, sf_dir, _ = warm_session("fw-time-query")

    for name in names:
        fn = QUERIES[name]
        for i in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            release_caches(df)
            spark.catalog.clearCache()
            print(f"{name} rep{i}: {dt:.3f}s", flush=True)


if __name__ == "__main__":
    main()
