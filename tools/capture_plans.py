#!/usr/bin/env python
"""Capture .explain('formatted') for named registry queries into
plans/<tag>/<query>_<suffix>.txt (optimization-round evidence).

    python tools/capture_plans.py <tag> <suffix> q32_dedup_minhash_lsh ...

Streaming replay queries execute eagerly at build time and return a
memory/localCheckpoint scan, so their files record that returned-frame
plan plus a header noting the executed-stream nature.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    from bench import warm_session
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.registry import QUERIES

    spark, sf_dir, cpus = warm_session("fw-capture-plans")
    outdir = os.path.join("plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        hdr = (
            f"# {name} — explain('formatted') at {sf_dir}, "
            f"local[{cpus}], shuffle={cpus}\n"
        )
        if "stream" in name or name in (
            "q68_stream_tumbling",
            "q69_stream_sliding",
            "q150_stateful_topk",
        ):
            hdr += (
                "# NOTE: streaming replay — the stream executed eagerly "
                "during build; this is the returned result frame's plan. "
                "Evidence for the streaming optimization is the before/"
                "after timing table in OPTIMIZATION_r15.md.\n"
            )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(hdr + plan)
        print("wrote", name, flush=True)
        release_caches(df)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
