"""The workloads: each a fixed list of operations on the engine.

An operation is one call into the program's public surface — a registry
query function, or an ``io_formats``/``sources`` writer or reader — and,
for a call that returns a DataFrame, a ``noop`` write that materialises
every column. The order is fixed here (the registry reorders ``QUERIES``
at import, so its order is not used).

``OPS`` is plain data so the parent process can name the operations
without importing Spark; ``run_op`` is called beside the engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# the Spark master is local[K] with K fixed here (clamped to the host's
# core count so the benchmark still starts on a smaller machine)
CORES = 4

FORMATS = ["csv", "nib"]

# the CSV read-back declares its schema rather than inferring it
CSV_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)

OPS = {
    # join + aggregate, rollup, window, set operation, correlated
    # subquery: Catalyst and JVM only
    "relational": [
        "q05_multiway_join_revenue",
        "q11_rollup",
        "q13_window_rank",
        "q16_except",
        "q23_correlated_subquery",
    ],
    # exact dedup (hash aggregate), embedding-cosine near-dup pairs
    # (blocked all-pairs verify in Arrow Python workers), availableNow
    # replays (tumbling windows, watermark dedup state), then each format's
    # distributed write and read-back of the same records: CSV through
    # io_formats, one-file-per-record nib through sources
    "dedup_stream_io": [
        "q30_dedup_exact",
        "q34_dedup_embedding_cosine",
        "q68_stream_tumbling",
        "q166_stream_dedup",
    ] + [f"{fmt}.{side}" for fmt in FORMATS for side in ("write", "read")],
}

# the generator's table groups (gen.GROUPS) each workload reads
TABLES = {
    "relational": ["tpch"],
    "dedup_stream_io": ["tpch_no_lineitem", "documents", "embeddings", "seqs", "events"],
}

# warm passes per workload: (settling, least). Warm passes run until
# --seconds have passed and at least ``least`` ran; the first ``settling``
# are still getting faster as the JIT compiles the generated code, so the
# metrics come from the passes after them. The relational queries settle
# by the fourth warm pass (the first three read about 1.4, 1.15 and 1.1 x
# the later ones); the longer mixed pass by the third (1.25 and 1.1 x).
WARM = {
    "relational": (3, 9),
    "dedup_stream_io": (2, 5),
}


@dataclass
class Ctx:
    spark: object
    data: str  # generated tables
    io_dir: str  # where the format writes go
    written: dict  # format -> path written in this pass
    n_writes: int = 0


def is_write(op: str) -> bool:
    return op.endswith(".write")


def run_op(op: str, ctx: Ctx):
    """Call the operation. Returns the DataFrame to materialise, or None
    for a write (the write is its own action)."""
    if "." not in op:
        from fireworks_spark.registry import QUERIES

        return QUERIES[op](ctx.spark, ctx.data)
    fmt, side = op.split(".")
    if side == "write":
        ctx.n_writes += 1
        path = os.path.join(ctx.io_dir, f"{fmt}-{ctx.n_writes}")
        _WRITERS[fmt](ctx, path)
        ctx.written[fmt] = path
        return None
    return _READERS[fmt](ctx, ctx.written[fmt])


def _table(ctx: Ctx, name: str):
    from fireworks_spark.io_formats import read_table

    return read_table(ctx.spark, os.path.join(ctx.data, f"{name}.parquet"))


def _write_csv(ctx, path):
    from fireworks_spark.io_formats import write_table

    write_table(_table(ctx, "orders").repartition(CORES), path, "csv")


def _write_nib(ctx, path):
    from fireworks_spark.sources import write_nib

    src = _table(ctx, "seqs").selectExpr("ids", "dna AS sequences")
    write_nib(src.repartition(CORES), path)


def _read_csv(ctx, path):
    from fireworks_spark.io_formats import read_table

    return read_table(ctx.spark, path, "csv", schema=CSV_SCHEMA)


def _read_nib(ctx, path):
    from fireworks_spark.sources import read_nib

    return read_nib(ctx.spark, path)


_WRITERS = {"csv": _write_csv, "nib": _write_nib}
_READERS = {"csv": _read_csv, "nib": _read_nib}


def release(spark, df) -> None:
    """Free what an operation left behind, outside the timed section:
    persisted intermediates, cached tables and the temp views that
    memory-sink replays and SQL queries register."""
    if df is not None:
        from fireworks_spark.operators.dedup import release_caches

        release_caches(df)
    spark.catalog.clearCache()
    # SHOW VIEWS, not catalog.listTables(): the latter looks up every
    # table's metadata and costs about 150 ms a call
    for v in spark.sql("SHOW VIEWS").collect():
        if v.isTemporary:
            spark.catalog.dropTempView(v.viewName)
