#!/usr/bin/env python
"""Per-query benchmark harness (driver contract, BASELINE.md).

Runs every registry query at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
fixture) on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process
may run on) and prints three kinds of line to stdout, in this order:

1. the full result as one JSON line:

       {"metric": "total_query_time", "value": <sum-sec>, "unit": "sec",
        "queries": {"q01_...": sec, ...}, "sf": 0.1}

2. the same per-query map again as bounded ``total_query_time_part``
   lines (chunk_queries);
3. a compact digest as the last line: total, failures and the top 10.

Methodology:
- one warm SparkSession for the whole run (warm_session: JVM/codegen,
  Python workers and numpy are warmed by queries that are not recorded);
- each query is fully materialized with a ``noop`` write so every column is
  computed (count() alone would let Catalyst prune the payload);
- one wall-clock reading per query via time.perf_counter(), never retimed.

BENCH_LOCAL.json keeps per-query minima per host. Each entry is keyed by a
fingerprint of the machine and the run (nproc, MemTotal, kernel, PySpark
version, cpus, sf); a run min-merges into its own entry only and carries
other hosts' entries through unchanged. The record is context for this
host, not evidence: a speed claim needs a same-session A/B (perfbench/).

Everything else (Spark logs, progress) goes to stderr.
"""

from __future__ import annotations

import json
import os
import platform
import re
import sys
import time

RECORD_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
)


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else float("nan")


def bench_params() -> "tuple[str, str]":
    """(sf_dir, cpus) from ``$SPARK_GRAFT_SF_DIR`` and ``$SPARK_GRAFT_CPUS``;
    cpus defaults to the cores this process may run on (what `nproc`
    prints)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    return sf_dir, cpus


def fingerprint(sf_dir: str, cpus: str) -> dict:
    """What makes records comparable: the machine (nproc, MemTotal in kB,
    kernel), the PySpark version, and the run's cpus and sf."""
    import pyspark

    with open("/proc/meminfo") as fh:
        mem = next(
            int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
        )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem,
        "kernel": platform.release(),
        "pyspark": pyspark.__version__,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "sf": _sf_from_dir(sf_dir),
    }


def host_key(fp: dict) -> str:
    """The record-file key of a fingerprint; unknown fields read ``?``."""
    return " ".join(f"{k}={'?' if v is None else v}" for k, v in fp.items())


def merge_records(
    prev: "dict[str, float]", timings: "dict[str, float | None]"
) -> "dict[str, float]":
    """Per-query minima after folding in one run's timings. A failed query
    (None) keeps its record; a query absent from the run (renamed or
    removed) drops out."""
    rec: dict[str, float] = {}
    for name, t in timings.items():
        r = prev.get(name)
        if t is None:
            if r is not None:
                rec[name] = r
        else:
            rec[name] = t if r is None else min(t, r)
    return rec


def update_record(
    path: str, fp: dict, timings: "dict[str, float | None]"
) -> None:
    """Min-merge one run into this host's entry of the record file at
    ``path``. Other hosts' entries are carried through unchanged; a record
    file that exists but cannot be read is left as it is."""
    doc: dict = {}
    try:
        with open(path) as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        pass
    except (OSError, ValueError) as exc:
        print(f"[bench] record load failed: {exc!r}", file=sys.stderr)
        return
    key = host_key(fp)
    rec = merge_records(doc.get(key, {}).get("queries", {}), timings)
    doc[key] = {
        "fingerprint": fp,
        "value": round(sum(rec.values()), 3),
        "queries": rec,
    }
    try:
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"[bench] record write failed: {exc!r}", file=sys.stderr)


def chunk_queries(
    timings: "dict[str, float | None]", max_chars: int = 700
) -> "list[str]":
    """The per-query map as a list of self-contained JSON lines, each
    under ``max_chars``: {"metric": "total_query_time_part", "part": i,
    "of": n, "queries": {...}}. The driver archives only a bounded TAIL
    of stdout (2000 chars in every BENCH_r*.json), so the single ~6KB
    full-map line gets head-truncated. Bounded chunks let any tail window
    recover complete, parseable sub-maps; queries are ordered
    cheapest-first so the MOST EXPENSIVE queries land in the LAST chunks.
    Failed queries (null) ride along in their chunk."""
    items = sorted(
        timings.items(), key=lambda kv: (kv[1] is not None, kv[1] or 0.0)
    )
    chunks: "list[dict[str, float | None]]" = [{}]
    size = 0
    for name, t in items:
        entry = len(name) + 12  # "name":12.345, with separators
        if chunks[-1] and size + entry > max_chars:
            chunks.append({})
            size = 0
        chunks[-1][name] = t
        size += entry
    n = len(chunks)
    return [
        json.dumps(
            {
                "metric": "total_query_time_part",
                "part": i + 1,
                "of": n,
                "queries": part,
            },
            separators=(",", ":"),
        )
        for i, part in enumerate(chunks)
    ]


def warm_session(app_name: str):
    """(spark, sf_dir, cpus): one warm session under bench conditions, for
    bench.py and the timing tools. ``local[cpus]`` with ``cpus`` shuffle
    partitions, throwaway catalog tables on scratch, and a warm-up over
    each execution shape the registry uses, so no timed query pays JVM,
    codegen, Python-worker or numpy start-up."""
    sf_dir, cpus = bench_params()
    # test rig: throwaway catalog tables go to tmpfs scratch (opt-in
    # gate in session.get_spark)
    os.environ.setdefault("FIREWORKS_SCRATCH_WAREHOUSE", "1")

    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window

    from fireworks_spark.session import get_spark
    from fireworks_spark.tables import table

    parts = int(cpus) if cpus.isdigit() else 32
    spark = get_spark(
        app_name=app_name, master=f"local[{cpus}]", shuffle_partitions=parts
    )
    spark.sparkContext.setLogLevel("WARN")

    # Warm-up: the JVM, whole-stage codegen + JIT, Arrow/Python workers
    # and the parquet footer caches, over scan/join/agg, window, HOF
    # lambda and mapInPandas. Its cost is deliberately not recorded.
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    r.join(n, r.r_regionkey == n.n_regionkey).groupBy("r_name").count().count()
    n.select(
        SF.sum("n_nationkey").over(
            Window.partitionBy("n_regionkey").orderBy("n_nationkey")
        )
    ).count()
    n.select(
        SF.transform(SF.split("n_name", ""), lambda w: SF.xxhash64(w))
    ).count()

    # Fan across all cores: Python workers are per-core and reused, so
    # spawning the whole pool here keeps the first Arrow query honest.
    # Each worker also imports numpy and touches a tiny kernel, so the
    # first numpy-heavy query does not pay that inside its timed window.
    def _warm_batch(it):
        import numpy as _np

        (_np.arange(256, dtype=_np.uint64)[:, None] ^ 1).sum()
        for pdf in it:
            yield pdf

    n.repartition(parts).mapInPandas(_warm_batch, n.schema).count()
    return spark, sf_dir, cpus


def main() -> None:
    spark, sf_dir, cpus = warm_session("fireworks-spark-bench")

    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.registry import QUERIES

    timings: dict[str, float | None] = {}
    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        df = None
        try:
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep benching; a broken query reads as null
            print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = None
        print(f"[bench] {name}: {timings[name]}s", file=sys.stderr)
        # Release this query's persisted intermediates (dedup shingle sets,
        # toolbox working frames) outside the timed section; a failed
        # release raises. clearCache stays as a backstop. Leaked cache
        # blocks otherwise accumulate over the session and the growing
        # GC/eviction pressure skews every later measurement.
        if df is not None:
            release_caches(df)
        spark.catalog.clearCache()

    ok = [v for v in timings.values() if v is not None]
    out = {
        "metric": "total_query_time",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
    }
    update_record(RECORD_PATH, fingerprint(sf_dir, cpus), timings)
    # Output order: the contract's full one-line JSON first (its head
    # truncates in the driver's 2000-char tail, harmlessly), then the
    # per-query map again as bounded chunk lines so the tail window always
    # holds complete parseable sub-maps, then the compact digest as the
    # LAST line — it always fits.
    print(json.dumps(out))
    for line in chunk_queries(timings):
        print(line)
    failed = sorted(k for k, v in timings.items() if v is None)
    top = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v is not None),
            key=lambda kv: -kv[1],
        )[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": out["value"],
                "unit": "sec",
                "sf": out["sf"],
                "n_queries": len(timings),
                "n_failed": len(failed),
                "failed": failed,
                "top10": top,
            }
        )
    )


if __name__ == "__main__":
    main()
