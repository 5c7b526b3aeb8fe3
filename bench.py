#!/usr/bin/env python
"""Per-query benchmark harness (driver contract, BASELINE.md).

Runs every registry query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE
JSON line to stdout:

    {"metric": "total_query_time", "value": <sum-sec>, "unit": "sec",
     "queries": {"q01_...": sec, ...}, "sf": 0.1}

Methodology:
- one warm SparkSession for the whole run (JVM/codegen warmup paid once by a
  small warmup query that is not recorded);
- each query is fully materialized with a ``noop`` write so every column is
  computed (count() alone would let Catalyst prune the payload);
- wall-clock per query via time.perf_counter().

Everything else (Spark logs, progress) goes to stderr so the driver can
parse stdout as JSON.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else float("nan")


# Record-file merge rule: BENCH_LOCAL.json carries per-query MINIMA so one
# noisy window can never replace the regression baseline wholesale (the r10
# driver run, uniformly ~1.3x inflated, overwrote the quiet-host records and
# weakened the ">2x previous record" retime rule for a full round). A
# query's record only moves DOWN — unless its current reading has beaten
# nothing for STALE_CAP consecutive runs ("ages"), in which case the record
# refreshes to the current reading so a deliberate slower-but-correct change
# can still raise its baseline instead of tripping the retime forever. The
# raw run is always what gets PRINTED; only the record file is merged.
#
# Aging back door (r12 verdict #1): five consecutive noisy host windows age
# every record to the cap and mass-rebaseline UPWARD — exactly what the cap
# was built to prevent, just slower. A noisy window has a signature a code
# change can't fake: the cheap, rarely-touched sub-2s queries inflate
# uniformly (2x+ on queries whose code didn't change). So before aging, the
# run is tested for uniform inflation over the sub-2s-record cohort; an
# environmental run still merges new minima DOWN but neither increments ages
# nor rebaselines — the noise counter only advances on credible readings.
STALE_CAP = 5
# median(current/record) over sub-2s records above this ⇒ environmental run
INFLATION_FLOOR = 2.0  # records below this form the environmental probe set
# 1.15, down from 1.3 (round 14): a full bench pass in a window whose
# sub-2s cohort read a UNIFORM 1.26x sailed under the old threshold and
# mass-rebaselined 101 age-4 records upward (q147 2.44 -> 6.40 while the
# same-day fresh-session A/B put it ON the control curve — purely
# environmental). 1.3 was chosen conservatively when the cohort signature
# stood alone; now the external control corroborates every freeze and the
# FROZEN_RUNS_CAP bounds it, so the sensitive threshold cannot freeze a
# genuine code regression indefinitely. Same-window jitter on this host
# is ~1.05x; 1.15 clears it with margin.
INFLATION_RATIO = 1.15
# Corroboration (ADVICE r13): the sub-2s cohort signature alone cannot
# distinguish a degraded host window from a genuine code regression that
# uniformly slows fixed per-query work (e.g. added session/table setup
# cost) — such a regression would freeze aging indefinitely while reading
# as "environmental". Two independent checks bound that:
# - an EXTERNAL CONTROL: a fixed spark.range workload that executes no
#   repo code, timed in the same session and recorded as a min-merged
#   floor (control_floor). If the control runs at record speed while the
#   cohort reads inflated, the slowdown is code — aging proceeds.
# - a CONSECUTIVE-FREEZE CAP: even a control-confirmed degraded window
#   stops freezing after FROZEN_RUNS_CAP runs in a row — at that point
#   the "degradation" is the new normal and records may re-baseline.
CONTROL_INFLATION_RATIO = 1.3
FROZEN_RUNS_CAP = 8


def external_control_time(spark) -> float:
    """Seconds for a fixed JVM-only workload that touches NO repo code
    (pure range->project->aggregate, no shuffle, no Python): a repo code
    change cannot move it, so its ratio vs the recorded floor separates
    host degradation from code regressions. Min of 3 reps."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 100_000_000, 1, 16).selectExpr(
            "count(if(pmod(id * 2654435761, 97) = 0, 1, null)) AS c"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _py_control_batch(it):
    """Fixed numpy kernel for python_control_time: XOR outer product +
    uint16-plane reduction over 2048 ids — the same kernel class as the
    suite's Arrow-heavy queries (blocked popcount), no repo imports."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        a = pdf["id"].to_numpy(np.int64).view(np.uint64)[:2048]
        s = 0
        for _ in range(3):
            X = a[:, None] ^ a[None, :]
            V = X.view(np.uint16).reshape(len(a), len(a), 4)
            s += int(V.sum(dtype=np.int64))
        yield pd.DataFrame({"s": [float(s)]})


def python_control_time(spark) -> float:
    """Seconds for a fixed PYTHON-WORKER workload that touches no repo
    code (range -> Arrow -> numpy XOR/reduce in mapInPandas). The
    JVM-only control cannot see this host's documented ASYMMETRIC
    degradation (single-process numpy work degrades up to 16x while JVM
    stages read ~1.2-2x): a window that spares the JVM while inflating
    the Python-stage-heavy cohort would read as "code regression" under
    a single-control rule, unfreeze aging, and mass-rebaseline records
    upward — the exact failure INFLATION_RATIO exists to prevent. Both
    controls must sit on their recorded floors before a cohort freeze is
    overridden (resolve_freeze). Min of 3 reps."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 65_536, 1, 16).mapInPandas(
            _py_control_batch, "s double"
        ).agg({"s": "sum"}).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def resolve_freeze(
    cohort_inflated: bool,
    control_ratio: "float | None",
    streak: int,
    cap: int = FROZEN_RUNS_CAP,
    control_cut: float = CONTROL_INFLATION_RATIO,
    py_control_ratio: "float | None" = None,
) -> "tuple[bool, int]":
    """(freeze_aging, new_streak) from the cohort signature, the two
    external controls' current/floor ratios (None when no floor exists
    yet), and the consecutive-frozen-run streak carried in the record
    file. Overriding a cohort freeze ("it's code, age normally")
    requires BOTH controls at record speed: the JVM control alone cannot
    rule out a window that spares the JVM while degrading Python workers
    16x (this host's measured asymmetry) — such a window would inflate
    the Arrow-stage cohort, read the JVM control "at record speed", and
    mass-rebaseline under a single-control rule. A missing floor fails
    safe to freeze (bounded by the streak cap either way).

    Cap semantics (VERDICT r15 #1): exceeding the streak cap declares the
    degradation "the new normal" and lets records re-baseline — but ONLY
    when at least one control floor exists and that control currently
    reads at record speed (<= cut). Before this gate, a streak that hit
    the cap while both control floors were still un-bootstrapped (their
    two-quiet-reading rule never satisfied) would rebaseline all records
    during what the cohort signature itself says is host degradation;
    with it, an unbootstrapped or inflated control keeps the freeze in
    place however long the streak grows, and the first quiet window both
    bootstraps the floors and resets the streak."""
    if not cohort_inflated:
        return False, 0
    if (
        control_ratio is not None
        and control_ratio <= control_cut
        and py_control_ratio is not None
        and py_control_ratio <= control_cut
    ):
        # both repo-independent controls ran at record speed: the cohort
        # slowdown is code, not host — age normally so STALE_CAP can
        # re-baseline a deliberate change
        return False, 0
    new_streak = streak + 1
    if new_streak > cap:
        # persistent window = the new normal, but only a bootstrapped
        # control reading at record speed can corroborate "normal":
        # rebaselining on a None/inflated control would ratchet every
        # record upward during provable host degradation.
        corroborated = (
            control_ratio is not None and control_ratio <= control_cut
        ) or (
            py_control_ratio is not None and py_control_ratio <= control_cut
        )
        if corroborated:
            return False, new_streak
        return True, new_streak
    return True, new_streak


def merge_control_floor(
    floor: "float | None",
    candidate: "float | None",
    current: "float | None",
    inflated: bool,
) -> "tuple[float | None, float | None]":
    """(floor, candidate) after folding in one run's control reading.
    Min-merge is always safe once a floor exists (it only improves).
    Bootstrapping needs more care: a floor first recorded during
    degradation would make later degraded windows read as "record
    speed" and invert the check, and the cohort signal is weakest
    exactly at bootstrap (a 1.12x window passes the 1.15 gate). So the
    floor only establishes as the MIN of TWO readings from separate
    non-inflated runs (``candidate`` holds the first) — two independent
    mild degradations both inflating the min is the residual risk, and
    min-merge keeps repairing it after. Shared by both controls."""
    if current is None:
        return floor, candidate
    if floor is not None:
        return min(current, floor), candidate
    if not inflated:
        if candidate is not None:
            return min(current, candidate), None
        return None, current
    return None, candidate


def run_is_inflated(
    prev: "dict[str, float]",
    timings: "dict[str, float | None]",
    floor: float = INFLATION_FLOOR,
    ratio: float = INFLATION_RATIO,
) -> bool:
    """True when this run reads as uniformly inflated vs the record file.

    Probe set = queries with an existing record under ``floor`` seconds
    (cheap relational scans/joins whose cost is dominated by fixed work —
    the cohort a genuine code regression would NOT lift uniformly). With
    fewer than 5 probes there is no reliable signature; returns False.
    """
    rel = sorted(
        t / r
        for name, r in prev.items()
        if r is not None and 0 < r < floor
        for t in [timings.get(name)]
        if t is not None
    )
    if len(rel) < 5:
        return False
    return rel[len(rel) // 2] > ratio


def merge_records(
    prev: "dict[str, float]",
    prev_ages: "dict[str, int]",
    timings: "dict[str, float | None]",
    stale_cap: int = STALE_CAP,
    freeze_aging: bool = False,
) -> "tuple[dict[str, float], dict[str, int]]":
    """(record minima, staleness ages) after folding in one run's timings.

    - faster-or-equal reading -> new record, age resets to 0;
    - slower reading -> record kept, age += 1; at ``stale_cap`` the record
      refreshes to the current reading (deliberate slowdowns re-baseline);
    - ``freeze_aging`` (environmental run, see run_is_inflated): slower
      readings keep both record AND age — noise can't ratchet records up;
    - failed query (None) -> record and age carried through unchanged;
    - queries absent from this run (renamed/removed) drop out of the file.
    """
    rec_q: dict[str, float] = {}
    rec_age: dict[str, int] = {}
    for name, t in timings.items():
        r = prev.get(name)
        if t is None:
            if r is not None:  # keep the record through a transient failure
                rec_q[name] = r
                rec_age[name] = prev_ages.get(name, 0)
            continue
        if r is None or t <= r:
            rec_q[name] = t
            rec_age[name] = 0
        elif freeze_aging:
            rec_q[name] = r
            rec_age[name] = prev_ages.get(name, 0)
        else:
            age = prev_ages.get(name, 0) + 1
            if age >= stale_cap:
                rec_q[name] = t
                rec_age[name] = 0
            else:
                rec_q[name] = r
                rec_age[name] = age
    return rec_q, rec_age


def chunk_queries(
    timings: "dict[str, float | None]", max_chars: int = 700
) -> "list[str]":
    """The per-query map as a list of self-contained JSON lines, each
    under ``max_chars``: {"metric": "total_query_time_part", "part": i,
    "of": n, "queries": {...}}. The driver archives only a bounded TAIL
    of stdout (2000 chars in every BENCH_r*.json), so the single ~6KB
    full-map line gets head-truncated and PERF's per_query/geomean have
    been empty for two rounds (VERDICT r15 #2). Bounded chunks let any
    tail window recover complete, parseable sub-maps; queries are
    ordered cheapest-first so the MOST EXPENSIVE queries land in the
    LAST chunks — the bytes most likely to survive are the ones perf
    analysis needs. Failed queries (null) ride along in their chunk."""
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default: the cores this process may run on (what `nproc` prints)
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    # test rig: throwaway catalog tables go to tmpfs scratch (opt-in
    # gate in session.get_spark — ADVICE r15)
    os.environ.setdefault("FIREWORKS_SCRATCH_WAREHOUSE", "1")

    from fireworks_spark.registry import QUERIES
    from fireworks_spark.session import get_spark

    spark = get_spark(
        app_name="fireworks-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if str(cpus).isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("WARN")

    # Warmup: spin up the JVM, whole-stage codegen + JIT, Arrow/Python
    # workers, and the parquet footer caches once, over each execution
    # shape the registry uses (scan/join/agg, window, HOF lambda,
    # mapInPandas). Steady-state per-query timing is the methodology —
    # warmup cost is deliberately not recorded.
    from pyspark.sql import functions as SF

    from fireworks_spark.tables import table

    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    r.join(n, r.r_regionkey == n.n_regionkey).groupBy("r_name").count().count()
    n.select(
        SF.sum("n_nationkey").over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.partitionBy("n_regionkey")
            .orderBy("n_nationkey")
        )
    ).count()
    n.select(
        SF.transform(SF.split("n_name", ""), lambda w: SF.xxhash64(w))
    ).count()
    # fan across all cores: python workers are per-core and reused, so
    # spawning the whole pool here keeps the first Arrow query honest.
    # The warm batch also pre-imports numpy and touches a tiny kernel in
    # EVERY worker — an identity lambda spins the pool but leaves the
    # first numpy-heavy query (q147 in driver order) paying the numpy
    # import + BLAS/ufunc first-touch inside its timed window, which is
    # why driver windows read it session-cold while same-session rep-2
    # sits on the record (r14 verdict item #2).
    def _warm_batch(it):
        import numpy as _np

        (_np.arange(256, dtype=_np.uint64)[:, None] ^ 1).sum()
        for pdf in it:
            yield pdf

    n.repartition(int(cpus) if str(cpus).isdigit() else 32).mapInPandas(
        _warm_batch, n.schema
    ).count()

    from fireworks_spark.operators.dedup import release_caches

    timings: dict[str, float] = {}
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

    # Contention guard: this host shows occasional noisy-neighbor load
    # spikes (load >> local process activity) that inflate whichever 2-3
    # queries happen to be running by 3-5x. Re-time only the outliers —
    # anything over 2s AND 3x the run's median, OR over 2x its own
    # previous-round record (BENCH_r06 logged 1.7-3.4x phantom cold-start
    # regressions on sub-2s join queries that the median rule alone
    # missed) — once, and keep the min: bounded extra work, and a spike
    # must hit the same query in both passes to survive into the headline.
    # The driver's BENCH_r*.json keeps only the compact tail (no per-query
    # map), so bench.py maintains its own full record across runs.
    local_rec = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    prev: dict[str, float] = {}
    prev_ages: dict[str, int] = {}
    prev_control: "float | None" = None
    prev_candidate: "float | None" = None
    prev_py_control: "float | None" = None
    prev_py_candidate: "float | None" = None
    prev_streak = 0
    try:
        with open(local_rec) as fh:
            rec_doc = json.load(fh)
            prev = {
                k: v
                for k, v in (rec_doc.get("queries") or {}).items()
                if isinstance(v, (int, float))
            }
            prev_ages = {
                k: v
                for k, v in (rec_doc.get("ages") or {}).items()
                if isinstance(v, int)
            }
            if isinstance(rec_doc.get("control_floor"), (int, float)):
                prev_control = float(rec_doc["control_floor"])
            if isinstance(rec_doc.get("control_candidate"), (int, float)):
                prev_candidate = float(rec_doc["control_candidate"])
            if isinstance(rec_doc.get("py_control_floor"), (int, float)):
                prev_py_control = float(rec_doc["py_control_floor"])
            if isinstance(
                rec_doc.get("py_control_candidate"), (int, float)
            ):
                prev_py_candidate = float(rec_doc["py_control_candidate"])
            if isinstance(rec_doc.get("frozen_streak"), int):
                prev_streak = rec_doc["frozen_streak"]
    except Exception as exc:
        print(f"[bench] record load failed: {exc!r}", file=sys.stderr)
    ok = sorted(v for v in timings.values() if v is not None)
    if ok:
        median = ok[len(ok) // 2]
        for name, t in list(timings.items()):
            if t is None:
                continue
            spiky = t > max(2.0, 3 * median)
            # 0.3s floor: below that, scheduler jitter dominates and a
            # 2x ratio is noise, not a regression signal
            regressed = name in prev and t > 2 * prev[name] and t > 0.3
            if not (spiky or regressed):
                continue
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                timings[name] = min(t, round(time.perf_counter() - t0, 3))
            except Exception as exc:
                print(f"[bench] retime {name} failed: {exc!r}", file=sys.stderr)
            spark.catalog.clearCache()
            print(f"[bench] retimed {name}: {timings[name]}s", file=sys.stderr)

    ok = [v for v in timings.values() if v is not None]
    out = {
        "metric": "total_query_time",
        "value": round(sum(ok), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
    }
    # Merge rule documented at merge_records (module level, unit-tested in
    # tests/test_bench_record.py): per-query minima + staleness-capped ages,
    # with aging frozen when the run's sub-2s cohort reads uniformly
    # inflated (environmental window — run_is_inflated) AND the external
    # control corroborates it, for at most FROZEN_RUNS_CAP runs in a row
    # (ADVICE r13 — resolve_freeze).
    inflated = run_is_inflated(prev, timings)
    # both controls run EVERY run so their min-merged floors are
    # established by quiet windows — a floor first recorded during a
    # degraded window would make later degradation read as "record
    # speed" and invert the check (bootstrap rule: merge_control_floor)
    control = None
    control_ratio = None
    py_control = None
    py_control_ratio = None
    try:
        control = external_control_time(spark)
        if prev_control:
            control_ratio = control / prev_control
    except Exception as exc:
        print(f"[bench] jvm control failed: {exc!r}", file=sys.stderr)
    try:
        py_control = python_control_time(spark)
        if prev_py_control:
            py_control_ratio = py_control / prev_py_control
    except Exception as exc:
        print(f"[bench] python control failed: {exc!r}", file=sys.stderr)
    freeze, streak = resolve_freeze(
        inflated, control_ratio, prev_streak, py_control_ratio=py_control_ratio
    )
    if inflated:
        print(
            f"[bench] sub-2s cohort reads uniformly inflated vs records; "
            f"jvm control={control}s ratio={control_ratio} "
            f"py control={py_control}s ratio={py_control_ratio} "
            f"streak={streak} -> "
            + (
                "environmental window: aging frozen, minima still merge"
                if freeze
                else "NOT frozen (both controls at record speed, or "
                "streak cap reached): aging proceeds"
            ),
            file=sys.stderr,
        )
    prev_control, prev_candidate = merge_control_floor(
        prev_control, prev_candidate, control, inflated
    )
    prev_py_control, prev_py_candidate = merge_control_floor(
        prev_py_control, prev_py_candidate, py_control, inflated
    )
    rec_q, rec_age = merge_records(prev, prev_ages, timings, freeze_aging=freeze)
    rec_ok = [v for v in rec_q.values() if v is not None]
    try:  # regression reference for the next run's retime rule
        with open(local_rec, "w") as fh:
            json.dump(
                {
                    "metric": "total_query_time_record",
                    "value": round(sum(rec_ok), 3),
                    "unit": "sec",
                    "queries": rec_q,
                    "ages": rec_age,
                    "last_run_value": out["value"],
                    "control_floor": prev_control,
                    "control_candidate": prev_candidate,
                    "py_control_floor": prev_py_control,
                    "py_control_candidate": prev_py_candidate,
                    "frozen_streak": streak,
                    "sf": out["sf"],
                },
                fh,
            )
    except Exception as exc:
        print(f"[bench] record write failed: {exc!r}", file=sys.stderr)
    # Output order (VERDICT r15 #2): the contract's full one-line JSON
    # first (humans / archaeology — its head truncates in the driver's
    # 2000-char tail, harmlessly), then the per-query map again as
    # bounded chunk lines so the tail window always holds complete
    # parseable sub-maps (most expensive queries in the last chunks),
    # then the compact summary as the LAST line — it always fits and
    # keeps BENCH_r*.json "parsed" populated exactly as before.
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
