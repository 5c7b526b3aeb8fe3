"""Misra-Gries heavy-hitters sketch with exact-recount verification — the
mergeable frequent-items sketch for key-skew discovery over data too large
to group exactly first. (The reference has no sketch layer; its nearest
analog is eager whole-frame value_counts, which does not scale. This is
the SpaceSaving/Misra-Gries shape every large-scale profiler uses.)

Scale story (100 TB):
- Pass 1 streams each partition through an O(capacity)-memory Misra-Gries
  summary inside an Arrow batch task; only <= capacity candidate keys per
  PARTITION ever leave the executors (plus one row-count row), so the
  collect is bounded by partitions x capacity regardless of row count.
- Guarantee (pigeonhole over partitions): any key with global frequency
  > n/(capacity+1) exceeds n_p/(capacity+1) in at least one partition, and
  per-partition Misra-Gries retains every such key. The candidate union
  therefore contains ALL true heavy hitters — no false negatives.
- Pass 2 recounts ONLY candidate keys exactly (broadcast semi-join filter,
  partial-aggregated groupBy whose shuffle carries candidate keys only)
  and applies the exact threshold — no false positives either. Output is
  deterministic and SQL-checkable: exactly the keys with exact count
  > n/capacity (q112's DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireworks_spark.session import persist

__all__ = ["mg_partition_candidates", "heavy_hitters_sketch"]


def _mg_fold(counters: dict, key, w: int, capacity: int) -> None:
    """Weighted Misra-Gries update: add w to key, then restore the
    <= capacity invariant by subtracting the minimum count from every
    counter and dropping zeros (the batch form of the classic decrement)."""
    counters[key] = counters.get(key, 0) + w
    if len(counters) > capacity:
        m = min(counters.values())
        for k in list(counters):
            counters[k] -= m
            if counters[k] <= 0:
                del counters[k]


def mg_partition_candidates(
    df: DataFrame, key_col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra-Gries summaries as (key, w, kind) rows:

    - ``kind='cand'``: a surviving non-null counter (key, residual weight);
    - ``kind='total'``: one row per partition, w = that partition's row
      count (so the caller derives n without a second full scan);
    - ``kind='nulls'``: one row per partition, w = its EXACT null-key row
      count. NULL keys never enter the MG counters (a NaN candidate can't
      survive the recount's equi-join and would break a non-float key
      column's Arrow schema); summing these per-partition exacts instead
      keeps the NULL group's count exact with zero extra memory.
    """
    key_type = dict(df.dtypes)[key_col]

    def _summarize(batches):
        import pandas as pd

        counters: dict = {}
        total = 0
        nulls = 0
        for b in batches:
            if not len(b):
                continue
            total += len(b)
            nulls += int(b[key_col].isna().sum())
            for key, w in b[key_col].value_counts(dropna=True).items():
                _mg_fold(counters, key, int(w), capacity)
        yield pd.DataFrame(
            {
                key_col: [*counters.keys(), None, None],
                "w": [*counters.values(), total, nulls],
                "kind": [*(["cand"] * len(counters)), "total", "nulls"],
            }
        )

    return df.select(key_col).mapInPandas(
        _summarize, f"{key_col} {key_type}, w long, kind string"
    )


def heavy_hitters_sketch(
    df: DataFrame, key_col: str, capacity: int = 100
) -> DataFrame:
    """Exact counts of every key with frequency > n/capacity, found with
    bounded memory: Misra-Gries candidates (no false negatives, see module
    doc), then an exact recount restricted to candidates (no false
    positives). Returns (key_col, cnt) sorted by cnt desc."""
    spark = df.sparkSession
    summaries = persist(mg_partition_candidates(df, key_col, capacity))
    try:
        # all three collects are bounded by partitions x capacity rows;
        # pulling them off the cached pass-1 result means pass 1 runs ONCE
        totals = {
            r["kind"]: r["s"]
            for r in summaries.filter(F.col("kind") != "cand")
            .groupBy("kind")
            .agg(F.sum("w").alias("s"))
            .collect()
        }
        n = totals.get("total") or 0
        n_null = totals.get("nulls") or 0
        cand_rows = (
            summaries.filter(F.col("kind") == "cand")
            .select(key_col)
            .distinct()
            .collect()
        )
    finally:
        summaries.unpersist()
    candidates = spark.createDataFrame(
        cand_rows, schema=df.select(key_col).schema
    )
    exact = (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    thresh = n / capacity
    out = exact.filter(F.col("cnt") > F.lit(thresh))
    if n_null > thresh:
        # the per-partition null counts are exact, so the NULL group joins
        # the output without touching the MG candidate path at all
        null_row = spark.createDataFrame(
            [(n_null,)], "cnt long"
        ).select(F.lit(None).cast(dict(df.dtypes)[key_col]).alias(key_col), "cnt")
        out = out.unionByName(null_row)
    return out.orderBy(F.desc("cnt"), key_col)
