"""Declared queries for the dataflow-toolbox operators (SURVEY.md §2.1 /
M2): shuffle, repeat, splits, interleave, label-index/one-hot, standardize,
pad, make_indices.

Oracle notes:
- shuffle (q50) is declared as a permutation invariant (the output re-sorted
  equals the source) — RNG order itself is not comparable across engines;
  seed determinism is asserted in tests/test_toolbox.py.
- one-hot vectors are emitted as comma-joined STRINGS on both sides so the
  driver's value hash sees identical scalars (array cells hash differently
  across engines).
- standardized z-scores carry `+ 0.0` on both sides to normalize IEEE -0.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark.functions.text import pad, words
from fireworks_spark.operators import textstats, toolbox
from fireworks_spark.tables import table


def q50_shuffle_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded shuffle is a permutation: re-sorting the shuffled output must
    reproduce the source exactly (count + content)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return toolbox.shuffle(c, seed=42).orderBy("c_custkey")


def q51_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RepeaterPipe: n logical passes over the input with an epoch id."""
    r = table(spark, sf_dir, "region").select("r_regionkey")
    return toolbox.repeat(r, 3, epoch_col="epoch").orderBy("r_regionkey", "epoch")


def q52_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic modulo split: per-split cardinalities."""
    c = table(spark, sf_dir, "customer")
    return (
        toolbox.split_assign(c, "c_custkey", k=5)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
    )


def q53_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin interleave of two sources with explicit positions."""
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    r = table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k"))
    out = toolbox.interleave([n, r], ["k"])
    return out.select("pos", "src", "k").orderBy("pos")


def q54_label_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LabelerPipe: label -> sorted-order index -> one-hot (as a string for
    engine-portable hashing)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    idx = toolbox.label_index(c, "c_mktsegment")
    oh = toolbox.one_hot("label_idx", 5)
    return (
        idx.select(
            "c_custkey",
            "c_mktsegment",
            "label_idx",
            F.concat_ws(",", F.transform(oh, lambda x: x.cast("string"))).alias(
                "onehot"
            ),
        )
        .orderBy("c_custkey")
    )


def q55_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalizer (batch): per-segment z-score of account balance."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    z = toolbox.standardize(c, ["c_acctbal"], group_by="c_mktsegment")
    return z.select(
        "c_custkey",
        (F.round(F.col("c_acctbal_std"), 3) + F.lit(0.0)).alias("z"),
    ).orderBy("c_custkey")


def q56_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pad/pad_sequence: fixed-length token window as a joined string."""
    p = table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.concat_ws("|", pad(words("p_name"), 6, "<pad>")).alias("padded"),
        )
        .orderBy("p_partkey")
    )


def q57_make_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_indices: frequency-ordered token index over the corpus vocab."""
    d = table(spark, sf_dir, "documents")
    return textstats.make_indices(d, top_k=50)


def q58_hstack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional horizontal concat (Message.merge): the i-th customer by
    key pairs with the i-th (acctbal, name) by balance. Both side orders are
    unique (c_custkey; c_acctbal tie-broken by unique c_name)."""
    c = table(spark, sf_dir, "customer")
    a = c.select("c_custkey", "c_mktsegment")
    b = c.select("c_acctbal", "c_name")
    out = toolbox.hstack(a, b, ["c_custkey"], ["c_acctbal", "c_name"])
    return out.orderBy("c_custkey")


def q59_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed zipWithIndex: global 0-based rank in c_custkey order,
    computed with range buckets + per-bucket windows (no single-partition
    window)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    return toolbox.with_row_index(c, ["c_custkey"], "idx").orderBy("c_custkey")


def q132_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag equi-width 8-bin histogram of l_quantity. The bin id
    is pure map-side IEEE double arithmetic (sub/div/floor — correctly
    rounded in every engine), so the counts are exactly reproducible in
    SQL; both shuffles move O(groups) rows."""
    li = table(spark, sf_dir, "lineitem")
    return (
        toolbox.histogram(li, "l_quantity", nbins=8, by="l_returnflag")
        .select(
            "l_returnflag",
            "bin",
            F.round("bin_lo", 4).alias("bin_lo"),
            F.round("bin_hi", 4).alias("bin_hi"),
            "cnt",
        )
        .orderBy("l_returnflag", "bin")
    )


def q99_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler over orders (row/null/distinct counts,
    min/max as strings) — the audit every ingest runs before heavier work.
    Float columns are excluded from the declared check (engine-dependent
    decimal rendering); the operator itself takes any column list."""
    o = table(spark, sf_dir, "orders")
    return toolbox.profile(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    ).orderBy("col_name")


def q100_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: top event types by frequency with corpus
    fraction — the pre-join check that decides salting."""
    e = table(spark, sf_dir, "events")
    return toolbox.heavy_hitters(e, "event_type", top=10)


def q101_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile clipping (winsorization at [p05, p95]) of order
    totals — the outlier guard before normalization. Bounds come from one
    agg pass and broadcast back; the clip is pure codegen."""
    o = table(spark, sf_dir, "orders")
    return (
        toolbox.winsorize(
            o, "o_totalprice", lo=0.05, hi=0.95,
            by="o_orderstatus", out_col="clipped",
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("clipped", 2).alias("clipped"),
        )
        .orderBy("o_orderkey")
    )



def q112_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries sketch + exact recount: every user with > n/120 of all
    events, found with O(capacity) memory per partition (operators/
    sketch.py). The sketch bounds the candidate set (no false negatives by
    the pigeonhole argument); the recount makes the output exact, so the
    oracle is the plain HAVING query."""
    from fireworks_spark.operators.sketch import heavy_hitters_sketch

    e = table(spark, sf_dir, "events")
    return heavy_hitters_sketch(e, "user_id", capacity=120)


def q148_interleave_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random interleave of three sources (HubJunction, reference
    fireworks/toolbox/junctions.py:14-73): union + seeded random order.
    The order itself is RNG-engine-specific (seed determinism is asserted
    in tests/test_toolbox.py), so the declared invariant is the multiset —
    per-source cardinality and id checksum must survive the interleave
    exactly (a dropped/duplicated row from any source fails the hash)."""
    d = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("id"))
        .withColumn("src", F.lit("doc"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .withColumn("src", F.lit("cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("id"))
        .withColumn("src", F.lit("supp"))
    )
    return (
        toolbox.interleave_random([d, c, s], seed=7)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("id_sum"))
        .orderBy("src")
    )


TOOLBOX_QUERIES = {
    "q148_interleave_random": q148_interleave_random,
    "q112_mg_heavy_hitters": q112_mg_heavy_hitters,
    "q50_shuffle_permutation": q50_shuffle_permutation,
    "q51_repeat": q51_repeat,
    "q52_split_assign": q52_split_assign,
    "q53_interleave": q53_interleave,
    "q54_label_onehot": q54_label_onehot,
    "q55_standardize": q55_standardize,
    "q56_pad": q56_pad,
    "q57_make_indices": q57_make_indices,
    "q58_hstack": q58_hstack,
    "q59_row_index": q59_row_index,
    "q99_profile": q99_profile,
    "q132_histogram": q132_histogram,
    "q100_heavy_hitters": q100_heavy_hitters,
    "q101_winsorize": q101_winsorize,
}

_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"

TOOLBOX_ORACLE = {
    "q132_histogram": """
        WITH s AS (
          SELECT l_returnflag, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
          FROM lineitem GROUP BY l_returnflag
        ),
        b AS (
          SELECT li.l_returnflag,
                 CASE WHEN s.mx = s.mn THEN 0
                      ELSE LEAST(CAST(FLOOR((li.l_quantity - s.mn)
                                 / ((s.mx - s.mn) / 8.0)) AS BIGINT), 7)
                 END AS bin,
                 s.mn, s.mx
          FROM lineitem li JOIN s USING (l_returnflag)
        )
        SELECT l_returnflag, bin,
               ROUND(mn + bin * ((mx - mn) / 8.0), 4) AS bin_lo,
               ROUND(mn + (bin + 1) * ((mx - mn) / 8.0), 4) AS bin_hi,
               COUNT(*)::BIGINT AS cnt
        FROM b GROUP BY l_returnflag, bin, mn, mx
        ORDER BY l_returnflag, bin
    """,
    "q112_mg_heavy_hitters": (
        "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id "
        "HAVING count(*) > (SELECT count(*) FROM events) / 120.0 "
        "ORDER BY cnt DESC, user_id"
    ),

    "q148_interleave_random": (
        "WITH u AS ("
        "  SELECT doc_id AS id, 'doc' AS src FROM documents"
        "  UNION ALL SELECT c_custkey, 'cust' FROM customer"
        "  UNION ALL SELECT s_suppkey, 'supp' FROM supplier) "
        "SELECT src, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_sum "
        "FROM u GROUP BY src ORDER BY src"
    ),
    "q50_shuffle_permutation": (
        "SELECT c_custkey, c_mktsegment FROM customer ORDER BY c_custkey"
    ),
    "q51_repeat": (
        "SELECT r_regionkey, CAST(r.range AS BIGINT) AS epoch "
        "FROM region CROSS JOIN range(3) r ORDER BY r_regionkey, epoch"
    ),
    "q52_split_assign": (
        "SELECT CAST(c_custkey % 5 AS BIGINT) AS split, COUNT(*) AS n "
        "FROM customer GROUP BY 1 ORDER BY split"
    ),
    "q53_interleave": (
        "WITH a AS (SELECT n_nationkey AS k, "
        "row_number() OVER (ORDER BY n_nationkey) - 1 AS j FROM nation), "
        "b AS (SELECT r_regionkey AS k, "
        "row_number() OVER (ORDER BY r_regionkey) - 1 AS j FROM region), "
        "u AS (SELECT k, 0 AS src, j*2 + 0 AS pos FROM a "
        "UNION ALL SELECT k, 1 AS src, j*2 + 1 AS pos FROM b) "
        "SELECT CAST(pos AS BIGINT) AS pos, CAST(src AS BIGINT) AS src, k "
        "FROM u ORDER BY pos"
    ),
    "q54_label_onehot": (
        "WITH d2 AS (SELECT c_mktsegment, "
        "CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) "
        "AS label_idx FROM (SELECT DISTINCT c_mktsegment FROM customer)) "
        "SELECT c.c_custkey, c.c_mktsegment, d2.label_idx, "
        "array_to_string(list_transform(range(5), "
        "i -> CASE WHEN i = label_idx THEN '1' ELSE '0' END), ',') AS onehot "
        "FROM customer c JOIN d2 USING (c_mktsegment) ORDER BY c.c_custkey"
    ),
    "q55_standardize": (
        "WITH s AS (SELECT c_mktsegment, AVG(c_acctbal) AS mu, "
        "sqrt(VAR_POP(c_acctbal)) AS sd FROM customer GROUP BY 1) "
        "SELECT c_custkey, ROUND((c_acctbal - mu) / sd, 3) + 0.0 AS z "
        "FROM customer JOIN s USING (c_mktsegment) ORDER BY c_custkey"
    ),
    "q56_pad": (
        "SELECT p_partkey, array_to_string(list_concat(w[1:6], "
        "list_transform(range(6 - least(len(w), 6)), x -> '<pad>')), '|') "
        "AS padded FROM (SELECT p_partkey, string_split("
        r"regexp_replace(lower(trim(p_name)), '\s+', ' ', 'g'), ' ') AS w "
        "FROM part) ORDER BY p_partkey"
    ),
    "q57_make_indices": (
        f"WITH v AS (SELECT token, count(*) AS freq FROM "
        f"(SELECT unnest({_TOKS}) AS token FROM documents) "
        "WHERE token <> '' GROUP BY token) "
        "SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 "
        "AS BIGINT) AS idx FROM v ORDER BY idx LIMIT 50"
    ),
    "q58_hstack": (
        "WITH a AS (SELECT c_custkey, c_mktsegment, "
        "row_number() OVER (ORDER BY c_custkey) AS pos FROM customer), "
        "b AS (SELECT c_acctbal, c_name, "
        "row_number() OVER (ORDER BY c_acctbal, c_name) AS pos FROM customer) "
        "SELECT a.c_custkey, a.c_mktsegment, b.c_acctbal, b.c_name "
        "FROM a JOIN b USING (pos) ORDER BY a.c_custkey"
    ),
    "q59_row_index": (
        "SELECT c_custkey, CAST(row_number() OVER (ORDER BY c_custkey) - 1 "
        "AS BIGINT) AS idx FROM customer ORDER BY c_custkey"
    ),
    "q99_profile": (
        " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS min_str, "
            f"CAST(max({c}) AS VARCHAR) AS max_str FROM orders"
            for c in (
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_orderpriority",
            )
        )
        + " ORDER BY col_name"
    ),
    "q100_heavy_hitters": (
        "SELECT event_type, count(*) AS cnt, "
        "floor(count(*) / (SELECT count(*)::DOUBLE FROM events) * 1000000 + 0.5) / 1000000 AS frac "
        "FROM events GROUP BY event_type "
        "ORDER BY cnt DESC, event_type LIMIT 10"
    ),
    "q101_winsorize": (
        "WITH b AS (SELECT o_orderstatus, "
        "quantile_cont(o_totalprice, 0.05) AS lo, "
        "quantile_cont(o_totalprice, 0.95) AS hi "
        "FROM orders GROUP BY o_orderstatus) "
        "SELECT o_orderkey, o_orderstatus, "
        "round(least(greatest(o_totalprice, lo), hi), 2) AS clipped "
        "FROM orders JOIN b USING (o_orderstatus) ORDER BY o_orderkey"
    ),
}
