"""SparkSession factory with deterministic, scale-aware defaults.

Replaces nothing in the reference (a single-process library needs no session);
the configs below encode the determinism discipline from SURVEY.md §7.2 and
the scale posture from BASELINE.md: UTC timezone, AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Every frame this package persists, in persist order, until the next
# release_caches(). Operators persist intermediates that several branches
# of one query DAG share; the registry, not the result DataFrame, owns the
# release, so wrappers (orderBy, select, join) need no handle bookkeeping.
_PERSISTED: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` at DataFrame.persist's default storage level,
    recorded for :func:`release_caches`. The one place this package
    caches a frame."""
    out = df.persist()
    _PERSISTED.append(out)
    return out


def release_caches(df: DataFrame) -> None:
    """Unpersist every frame persisted through :func:`persist` since the
    last release, and forget them.

    ``df`` names the result the caller has just materialized; call this
    AFTER the action, because the cached frames are part of its lineage.
    The release is not scoped to ``df``: frames persisted for results not
    yet materialized are freed too, and those results then recompute their
    intermediates (``with_row_index`` results may number rows differently
    on recompute), so materialize every pending result first. Unpersisting
    a frame an operator already freed itself is a no-op."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


# Host-profile mitigations (measured on this rig — OPTIMIZATION_r16.md
# "Host pathology"): the test VM's kernel handles first-touch page faults
# in userspace (~4 us/page, re-paid every time freed pages are re-faulted)
# and serializes concurrent mmap/munmap process-wide (measured 0.2 ms/op
# single-threaded -> 18.4 ms/op wall with 32 threads). A 32-core local
# Spark JVM hits that lock from every direction: glibc arenas mmap/munmap
# large transient allocations, NIO transferTo mmaps every shuffle-merge
# segment, and the bypass-merge shuffle writer opens partitions-many files
# per map task and concatenates them. Each knob below is overridable for
# hosts without the pathology; none changes any query result.


def _host_profile_env() -> dict[str, str]:
    """glibc malloc knobs, set BEFORE the JVM launches (inherited by the
    JVM and by every forked Python worker): serve large allocations from
    the brk heap and never trim it back, so pages fault once per process
    lifetime instead of once per allocation, and malloc stops taking the
    process mmap lock in write mode on the hot path."""
    return {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 40),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 40),
    }


def _worker_path_env() -> dict[str, str]:
    """PYTHONPATH with this package's parent directory first, set BEFORE
    the JVM launches: the Python workers it forks inherit the variable,
    so worker functions that refer to fireworks_spark helpers import
    them whatever the driver's working directory is. Nothing else ships
    the package to local workers."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    parts = [p for p in parts if p]
    if root in parts:
        return {}
    return {"PYTHONPATH": os.pathsep.join([root] + parts)}


def _host_profile_conf(driver_mem: str) -> dict[str, str]:
    """Spark confs mitigating the same pathology, each env-overridable:

    - ``spark.file.transferTo=false``: shuffle merges copy via streamed
      read/write instead of FileChannel.transferTo (which mmaps+munmaps
      every segment — 11 of 32 executor threads were caught inside
      unmap0 in one thread dump).
    - ``spark.shuffle.sort.bypassMergeThreshold=1``: the sort shuffle
      writer emits ONE data+index file per map task, where the bypass
      writer opens numPartitions files per task and then concatenates
      them (file churn + the merge copy above).
    - fixed, pre-touched driver heap: G1 otherwise grows/uncommits the
      heap during the run and every step re-faults pages at ~4 us each;
      -Xms=-Xmx -XX:+AlwaysPreTouch moves all heap faults to the
      (untimed) session start.

    Production note: on a normal kernel transferTo is zero-copy and the
    bypass writer is the right choice below ~200 partitions — these
    defaults encode THIS host's measured behavior and exist as env
    overrides precisely so a healthy cluster can flip them back.
    """
    return {
        "spark.file.transferTo": os.environ.get(
            "FIREWORKS_FILE_TRANSFERTO", "false"
        ),
        "spark.shuffle.sort.bypassMergeThreshold": os.environ.get(
            "FIREWORKS_BYPASS_MERGE_THRESHOLD", "1"
        ),
        "spark.driver.extraJavaOptions": os.environ.get(
            "FIREWORKS_DRIVER_JAVA_OPTIONS",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        ),
    }


def get_spark(
    app_name: str = "fireworks-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    - ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract).
    - ``shuffle_partitions`` defaults to 32 locally; on a real cluster you
      would size this to ~2-3x total cores and let AQE coalesce down.
    - AQE is enabled so the same code re-plans at 1000x the data (skew joins
      are split, tiny shuffle partitions are merged, sort-merge joins flip to
      broadcast when a side turns out small at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    for k, v in _host_profile_env().items():
        os.environ.setdefault(k, v)  # before the JVM starts; no-op after
    os.environ.update(_worker_path_env())
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate copies the generator's child expression
        # into a pushed-down filter over the RAW input, with no CSE against
        # the projection that computes it — for expression-heavy generators
        # (shingling: tokenize+ngram+hash) that re-evaluates the whole
        # pipeline per row and dominates runtime (measured 3x on the dedup
        # queries). The filter it infers only skips empty arrays, which the
        # explode skips anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # plan strings truncate each scan-metadata entry (PushedFilters /
        # DataFilters / ReadSchema) at 100 chars by default; long-lived
        # sessions grow expression ids (#10174) until asserts and humans
        # reading .explain() lose the tail. Diagnostics, not semantics.
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in _host_profile_conf(driver_mem).items():
        if k not in (extra_conf or {}):
            builder = builder.config(k, v)
    if "spark.sql.warehouse.dir" not in (extra_conf or {}) and os.environ.get(
        "FIREWORKS_SCRATCH_WAREHOUSE", ""
    ).lower() in ("1", "true", "yes"):
        # Opt-in (ADVICE r15): catalog-table writes (bucketed joins,
        # saveAsTable round-trips) are throwaway on the test rig — park
        # the warehouse on the fast scratch filesystem (tmpfs when
        # mounted; ~9ms/fsynced-file ext4 penalty otherwise, see
        # fireworks_spark/scratch.py). The harnesses (bench.py,
        # tools/time_query.py, tests) set FIREWORKS_SCRATCH_WAREHOUSE=1;
        # a plain library caller keeps Spark's durable default so
        # saveAsTable data never silently lands in volatile RAM.
        from fireworks_spark.scratch import warehouse_dir

        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
