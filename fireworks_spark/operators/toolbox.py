"""Dataflow toolbox operators (SURVEY.md §2.1, reference toolbox/pipes.py,
junctions.py, preprocessing.py).

The reference implements these as eager, pull-based Pipe classes; here each
is a declarative DataFrame transformation, so Catalyst plans the whole chain
and the operators compose with everything else (filters still push down
through them, column pruning still reaches the scan).

Scale notes are inline. The positional operators (interleave, hstack) are
the one place a global order is genuinely part of the semantics; they derive
positions with with_row_index — a distributed two-pass zipWithIndex — so no
operator here funnels data through a single partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fireworks_spark.functions.rounding import pround
from fireworks_spark.session import persist


# --------------------------------------------------------------------------
# labeling (P7, P8)
# --------------------------------------------------------------------------


def with_label(df: DataFrame, title: str, labels_col: str = "labels") -> DataFrame:
    """Constant label column (Title2LabelPipe, reference
    fireworks/toolbox/pipes.py:347-372)."""
    return df.withColumn(labels_col, F.lit(title))


def label_index(
    df: DataFrame, label_col: str, index_col: str = "label_idx"
) -> DataFrame:
    """Categorical label -> contiguous 0-based index (LabelerPipe, reference
    fireworks/toolbox/pipes.py:374-395).

    Indices follow sorted label order — deterministic across runs and
    cluster layouts (unlike frequency-ordered StringIndexer). The distinct
    label dim is tiny by construction, so the join back is a broadcast; the
    fact side never shuffles.
    """
    dim = (
        df.select(label_col)
        .distinct()
        .withColumn(
            index_col,
            (F.row_number().over(Window.orderBy(label_col)) - 1).cast("long"),
        )
    )
    return df.join(F.broadcast(dim), label_col)


def one_hot(idx_col: Column | str, num_classes: int) -> Column:
    """Index -> one-hot ARRAY<INT> (reference fireworks/utils/utils.py:4-17).
    Pure expression: transform over a constant-length sequence."""
    idx = F.col(idx_col) if isinstance(idx_col, str) else idx_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_classes - 1)),
        lambda d: F.when(d.cast("long") == idx.cast("long"), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )


# --------------------------------------------------------------------------
# row-order operators (P9, P10, P17, P18)
# --------------------------------------------------------------------------


def with_row_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "row_idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """0-based global row index in the total order of ``order_cols``
    (which must be a unique sort key), computed WITHOUT a single-partition
    window — the RDD zipWithIndex design expressed in DataFrame ops:

    1. range-repartition on the order key (range buckets are globally
       ordered: every row in bucket i sorts before every row in bucket i+1)
       and PERSIST — range boundaries come from reservoir sampling seeded by
       the RDD id, so two separate executions of the same range exchange can
       bucket rows differently; materializing once is what makes the two
       passes consistent (the same reason RDD.zipWithIndex caches);
    2. one tiny counting job over the cached buckets -> cumulative offsets,
       embedded as a literal map (runs eagerly at call time);
    3. row_number() windowed PER BUCKET (distributed) + bucket offset.

    All JVM-side; cost over a naive global window is the counting job plus
    the cache footprint (MEMORY_AND_DISK — spills, never recomputes).
    ``release_caches`` frees the buckets once the result is materialized.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    pid = persist(
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    acc = 0
    kv: list = []
    for r in sorted(counts, key=lambda r: r["_pid"]):
        kv.extend([F.lit(r["_pid"]), F.lit(acc)])
        acc += r["_n"]
    omap = F.create_map(*kv) if kv else F.create_map(F.lit(0), F.lit(0))
    bw = Window.partitionBy("_pid").orderBy(*order_cols)
    return pid.withColumn(
        index_col,
        (F.row_number().over(bw) - 1 + F.element_at(omap, F.col("_pid")))
        .cast("long"),
    ).drop("_pid")


def with_running_total(
    df: DataFrame,
    order_cols: list[str],
    value_col,
    total_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global cumulative sum of ``value_col`` in the total order of
    ``order_cols`` (a unique sort key) WITHOUT a single-partition window —
    the same two-pass range-partition design as with_row_index:

    1. range-repartition on the order key and PERSIST (range boundaries are
       sampled with an RDD-id seed; materializing once keeps the counting
       pass and the assignment pass in the same bucketing);
    2. one tiny job sums ``value_col`` per bucket -> literal prefix offsets;
    3. per-bucket cumulative window + the bucket's prefix offset.

    ``value_col`` may be a column name or Column expression; the result is
    the INCLUSIVE running total (row's own value included).
    ``release_caches`` frees the buckets, as for with_row_index.
    """
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    pid = persist(
        df.withColumn("_val", val.cast("long"))
        .repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    sums = pid.groupBy("_pid").agg(F.sum("_val").alias("_s")).collect()
    acc = 0
    kv: list = []
    for r in sorted(sums, key=lambda r: r["_pid"]):
        kv.extend([F.lit(r["_pid"]), F.lit(acc)])
        acc += r["_s"] or 0
    omap = F.create_map(*kv) if kv else F.create_map(F.lit(0), F.lit(0))
    bw = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return pid.withColumn(
        total_col,
        (F.sum("_val").over(bw) + F.element_at(omap, F.col("_pid")))
        .cast("long"),
    ).drop("_pid", "_val")


def shuffle(df: DataFrame, seed: int | None = None) -> DataFrame:
    """Seeded random permutation (ShufflerPipe, reference
    fireworks/toolbox/pipes.py:440-490): orderBy(rand(seed)).

    This is a real range-partitioned sort shuffle; for per-epoch reshuffling
    vary the seed. Same seed + same input => same output order (rand(seed)
    is deterministic per row position within a fixed partitioning)."""
    return df.orderBy(F.rand(seed) if seed is not None else F.rand())


def repeat(df: DataFrame, n: int, epoch_col: str | None = None) -> DataFrame:
    """Iterate the input n times (RepeaterPipe, reference
    fireworks/toolbox/pipes.py:397-438) — crossJoin with a broadcast
    1-column range: constant-space oversampling, no materialized copies."""
    r = df.sparkSession.range(n).select(F.col("id").alias(epoch_col or "_epoch"))
    out = df.crossJoin(F.broadcast(r))
    return out if epoch_col else out.drop("_epoch")


def interleave(dfs: list[DataFrame], order_cols: list[str]) -> DataFrame:
    """Round-robin interleave of k sources (ClockworkHubJunction, reference
    fireworks/toolbox/junctions.py:75-96): source i's j-th row (ordered by
    order_cols) lands at position j*k + i; a shorter source simply exhausts
    early, exactly like the reference's stop-on-StopIteration loop.

    Adds ``pos`` (global position) and ``src`` (source index). Each source's
    global position comes from with_row_index (distributed two-pass
    zipWithIndex), so no single-partition window anywhere.
    """
    k = len(dfs)
    parts = []
    for i, d in enumerate(dfs):
        ri = with_row_index(d, order_cols, "_j")
        parts.append(
            ri.select(
                *d.columns,
                (F.col("_j") * k + i).cast("long").alias("pos"),
                F.lit(i).cast("long").alias("src"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hstack(
    a: DataFrame,
    b: DataFrame,
    a_order: list[str],
    b_order: list[str],
) -> DataFrame:
    """Positional horizontal concat (Message.merge, reference
    fireworks/core/message.py:618-637): row i of ``a`` pairs with row i of
    ``b``. DataFrames are unordered, so position must be DERIVED — each
    side declares the sort that defines its row order; column sets must be
    disjoint and lengths equal (reference's merge contract).

    Positions come from with_row_index (distributed zipWithIndex); the
    pairing itself is then a plain shuffle join on _pos. When a shared key
    exists, use a plain join instead."""
    dup = set(a.columns) & set(b.columns)
    if dup:
        raise ValueError(f"hstack requires disjoint columns; shared: {dup}")
    ra = with_row_index(a, a_order, "_pos")
    rb = with_row_index(b, b_order, "_pos")
    return ra.join(rb, "_pos", "inner").drop("_pos")


def index_map(
    df: DataFrame,
    mapping: DataFrame,
    index_col: str = "idx",
    from_col: str = "input_idx",
    to_col: str = "output_idx",
) -> DataFrame:
    """Remap an index column through a mapping table (IndexMapperPipe,
    reference fireworks/toolbox/pipes.py:492-534 — the reference remaps
    positional indices for split views; with explicit index columns this is
    just a broadcast-joined dimension lookup, and randomSplit/hash_split
    obsolete its original purpose). Rows whose index has no mapping are
    dropped, matching the reference's only-mapped-indices view."""
    m = mapping.select(
        F.col(from_col).alias(index_col), F.col(to_col).alias("_new_idx")
    )
    return (
        df.join(F.broadcast(m), index_col)
        .drop(index_col)
        .withColumnRenamed("_new_idx", index_col)
    )


def interleave_random(
    dfs: list[DataFrame], seed: int | None = None
) -> DataFrame:
    """Random interleave of sources (HubJunction/RandomHubJunction, reference
    fireworks/toolbox/junctions.py:14-73): union + seeded random order."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return shuffle(out, seed)


# --------------------------------------------------------------------------
# splits (P20)
# --------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str,
    seed: int = 0,
) -> dict[str, DataFrame]:
    """Deterministic disjoint splits by bucketed xxhash64 of a key column
    (train_test_split, reference fireworks/toolbox/preprocessing.py:14-40).

    Unlike randomSplit (whose assignment depends on partition layout), the
    same row lands in the same split on any cluster at any scale — the
    property a training pipeline actually needs for reproducibility.
    """
    total = sum(weights.values())
    buckets = 1_000_000
    b = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(buckets))
    out: dict[str, DataFrame] = {}
    lo = 0.0
    for name, wgt in weights.items():
        hi = lo + (wgt / total) * buckets
        out[name] = df.filter((b >= int(lo)) & (b < int(hi)))
        lo = hi
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum sampling (df.stat.sampleBy): the training-pipeline tool
    for class rebalancing — each stratum keeps its own fraction, computed
    map-side with no shuffle."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def random_split(
    df: DataFrame, weights: list[float], seed: int = 0
) -> list[DataFrame]:
    """Thin wrapper over randomSplit for parity with the reference's random
    variant; prefer hash_split for reproducibility."""
    return df.randomSplit(list(weights), seed=seed)


def split_assign(df: DataFrame, key_col: str, k: int = 5) -> DataFrame:
    """Deterministic modulo split id column (the oracle-checkable stand-in
    for split semantics, cf. declared Q24/Q52)."""
    return df.withColumn("split", F.pmod(F.col(key_col), F.lit(k)).cast("long"))


# --------------------------------------------------------------------------
# normalization (P21)
# --------------------------------------------------------------------------


def mix_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic domain-mix resampling: keep a ``rates[stratum]``
    fraction of each stratum (training-mix reweighting, e.g. downsample
    web crawl against books). Selection is keyed — row kept iff
    key mod denom < rate * denom — so the SAME rows are kept on every run
    and on every cluster size; no rand(), no shuffle, a single map-side
    filter that combines with scan pushdown.
    """
    kv: list = []
    for s, r in sorted(rates.items()):
        kv.extend([F.lit(s), F.lit(float(r))])
    rate = (
        F.coalesce(
            F.element_at(F.create_map(*kv), F.col(stratum_col)),
            F.lit(float(default_rate)),
        )
        if kv
        else F.lit(float(default_rate))
    )
    return df.filter(
        F.pmod(F.col(key_col), F.lit(denom)) < rate * denom
    )


def portable_uniform(
    key_col: str, seed: int = 7, denom: int = 1 << 20
) -> Column:
    """Deterministic uniform(0,1) draw from an md5 of ``key:seed``.

    Portable across engines: Spark's ``conv(substring(md5(..),1,15),16,10)``
    and DuckDB's ``('0x' || substring(md5(..),1,15))::BIGINT`` produce the
    same 60-bit integer, and ``(h mod 2^20 + 0.5) / 2^20`` is EXACT in
    binary floating point (numerator representable, division by a power of
    two) — so the draw, and any ordering on it, is bit-identical in both.
    Never 0 or 1, so safe under ``ln``.
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(key_col).cast("string"), F.lit(str(seed))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (F.pmod(h, F.lit(denom)) + F.lit(0.5)) / F.lit(float(denom))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    group_col: str | None = None,
    seed: int = 7,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws ``u`` from its key and the winner set is
    the ``k`` smallest ``-ln(u) / w`` — inclusion probability proportional
    to weight, reproducible on any cluster at any partitioning (the draw is
    keyed, not rand()-based).

    With ``group_col``, takes k per group via a rank over the exponential
    key — Spark plans a WindowGroupLimit, so each map task pre-prunes to
    its local top-k before the single shuffle on the group key; without,
    a global orderBy+limit (TakeOrderedAndProject — no full sort, each
    partition forwards only k candidates). Both shapes move O(k) rows per
    task at any scale. Adds the sort key as ``es_key``.
    """
    from pyspark.sql import Window

    out = df.filter(F.col(weight_col) > 0).withColumn(
        "es_key",
        -F.log(portable_uniform(key_col, seed)) / F.col(weight_col),
    )
    if group_col is None:
        return out.orderBy("es_key", key_col).limit(k)
    w = Window.partitionBy(group_col).orderBy("es_key", key_col)
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def token_budget_sample(
    df: DataFrame,
    token_col: str,
    budget: int,
    key_col: str = "doc_id",
    group_col: str | None = None,
    seed: int = 11,
) -> DataFrame:
    """Quota sampling to a token budget: shuffle rows into a deterministic
    keyed-random order, then keep the prefix whose cumulative ``token_col``
    stays within ``budget`` (per group when ``group_col`` is given) — the
    "take 1B tokens per domain" primitive of a training-mix builder.

    The order key is :func:`portable_uniform` (exact float, bit-identical
    across engines). Grouped: one ROWS-window shuffle on the group key.
    Global: the two-pass range-partitioned cumsum of
    :func:`with_running_total` — NOT a single-partition window, so the
    prefix scan distributes at any scale. Adds ``cum_tokens``.
    """
    u = portable_uniform(key_col, seed).alias("_u")
    staged = df.withColumn("_u", u)
    if group_col is None:
        out = with_running_total(
            staged, ["_u", key_col], token_col, total_col="cum_tokens"
        )
    else:
        w = (
            Window.partitionBy(group_col)
            .orderBy("_u", key_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = staged.withColumn("cum_tokens", F.sum(token_col).over(w))
    return out.filter(F.col("cum_tokens") <= budget).drop("_u")


def temperature_mix(
    df: DataFrame,
    stratum_col: str = "source",
    alpha: float = 0.5,
    key_col: str = "doc_id",
) -> DataFrame:
    """Alpha-temperature domain rebalancing: sample each stratum at a rate
    that makes the KEPT share of stratum s proportional to count(s)^alpha
    — alpha=1 preserves the natural mix, alpha=0 equalizes, and the 0.2-0.7
    range is the standard low-resource upweighting of multilingual
    pre-training recipes.

    Rates derive in one O(strata) aggregation (rate_s = share_s * N_kept /
    count_s, scaled so the largest rate is 1.0 — no stratum oversamples);
    selection is row kept iff portable_uniform(key) < rate — an md5-keyed
    draw, so it is uniform for ANY id distribution (a plain key-mod rule
    would keep everything when ids are small and sequential), reproducible
    at any partitioning, map-side only, and exactly replayable in SQL.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = {
        r[stratum_col]: r["n"]
        for r in df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per stratum
    }
    if not counts:
        return df
    powed = {s: float(n) ** alpha for s, n in counts.items()}
    tot = sum(powed.values())
    # unnormalized per-row rate; scale so max rate == 1.0
    raw = {s: (powed[s] / tot) / counts[s] for s in counts}
    top = max(raw.values())
    rates = {s: raw[s] / top for s in counts}
    kv: list = []
    for s, r in sorted(rates.items()):
        kv.extend([F.lit(s), F.lit(float(r))])
    rate = F.element_at(F.create_map(*kv), F.col(stratum_col))
    return df.filter(portable_uniform(key_col, seed=13) < rate)


def standardize(
    df: DataFrame,
    cols: list[str],
    group_by: str | None = None,
    suffix: str = "_std",
) -> DataFrame:
    """(x - mean) / stddev_pop per column (Normalizer compile+forward,
    reference fireworks/toolbox/preprocessing.py:49-129, batch form).

    One partial-aggregated stats pass (shuffle moves O(groups) rows), then a
    broadcast join back — the fact table never sorts, unlike a window-based
    formulation. Streaming form: fireworks_spark.streaming.normalizer.
    """
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"_mu_{c}"))
        aggs.append(F.sqrt(F.var_pop(c)).alias(f"_sd_{c}"))
    if group_by:
        stats = df.groupBy(group_by).agg(*aggs)
        out = df.join(F.broadcast(stats), group_by)
    else:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"{c}{suffix}",
            (F.col(c) - F.col(f"_mu_{c}")) / F.col(f"_sd_{c}"),
        )
    return out.drop(*[f"_mu_{c}" for c in cols], *[f"_sd_{c}" for c in cols])


# --------------------------------------------------------------------------
# skew-safe join
# --------------------------------------------------------------------------


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Equi-join that survives a pathologically hot key: the big side salts
    each row with rand()*salt, the small side replicates every row ``salt``
    times, and the join key becomes (key, salt) — a hot key's rows spread
    over ``salt`` reducers instead of landing on one.

    Reach for this only when AQE's skew-join splitting can't help (extreme
    single-key skew, or plans AQE won't rewrite); it multiplies the small
    side by ``salt``, so keep that side genuinely small. Result equals the
    plain join (each big row matches exactly its own salt replica).
    """
    bs = big.withColumn("_salt", (F.rand(seed) * salt).cast("int"))
    replicas = big.sparkSession.range(salt).select(
        F.col("id").cast("int").alias("_salt")
    )
    ss = small.crossJoin(F.broadcast(replicas))
    out = bs.join(ss, [key, "_salt"], how)
    return out.drop("_salt")


# --------------------------------------------------------------------------
# function application (P13) and embedding lookup (P31)
# --------------------------------------------------------------------------


def apply(df: DataFrame, fn) -> DataFrame:
    """FunctionPipe (reference fireworks/toolbox/pipes.py:569-582) ==
    df.transform(fn): plain composition inside the lazy plan."""
    return df.transform(fn)


def apply_embeddings(
    df: DataFrame,
    tokens_col: str,
    emb: DataFrame,
    token_col: str = "token",
    vec_col: str = "vec",
    out_col: str = "vecs",
) -> DataFrame:
    """Token array -> array of embedding vectors (apply_embeddings,
    reference fireworks/toolbox/text.py:57-82).

    posexplode keeps token positions; the embedding table joins broadcast
    (vocabularies are small relative to the corpus); re-assembly sorts each
    row's (pos, vec) structs — a per-row array_sort, not a global sort.
    Unknown tokens are dropped (reference behavior: KeyError-free lookup).
    """
    other = [c for c in df.columns if c != tokens_col]
    ex = df.select(
        *other, F.posexplode(tokens_col).alias("_pos", "_tok")
    )
    joined = ex.join(
        F.broadcast(emb.select(F.col(token_col).alias("_tok"), F.col(vec_col).alias("_vec"))),
        "_tok",
    )
    return (
        joined.groupBy(*other)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_vec"))),
                lambda s: s["_vec"],
            ).alias(out_col)
        )
    )


def histogram(
    df: DataFrame, col: str, nbins: int = 10, by: str | None = None
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, bin_lo, bin_hi,
    cnt), optionally per ``by`` group (then bounds are per-group).

    Two aggregation passes, both shuffle-bounded by the group count:
    min/max first (O(groups) rows move), broadcast back, then a
    partial-aggregated count per bin (O(groups x nbins)). The fact table
    never sorts and never moves — the bin id is a map-side expression, so
    this profiles a 100 TB column at scan speed. All arithmetic is plain
    IEEE double (sub/div/floor — correctly rounded everywhere), making the
    bin assignment engine-portable and oracle-checkable. A max-value row
    lands in the last bin; a constant column collapses to bin 0. NULL
    values are excluded entirely (min/max already ignore them; without the
    filter a null bin expression would silently land in the top bin via
    least(null, nbins-1), or in bin 0 for constant columns).
    """
    x = F.col(col).cast("double")
    nn = df.filter(x.isNotNull())
    if by is None:
        stats = nn.agg(
            F.min(x).alias("_mn"), F.max(x).alias("_mx")
        )
        staged = nn.crossJoin(F.broadcast(stats))
    else:
        stats = nn.groupBy(by).agg(
            F.min(x).alias("_mn"), F.max(x).alias("_mx")
        )
        staged = nn.join(F.broadcast(stats), by)
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(nbins))
    bin_ = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((x - F.col("_mn")) / width), F.lit(nbins - 1)
        )
    ).cast("long")
    keys = ([by] if by else []) + ["bin", "_mn", "_mx"]
    out = (
        staged.withColumn("bin", bin_)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *([by] if by else []),
            "bin",
            (F.col("_mn") + F.col("bin") * width).alias("bin_lo"),
            (F.col("_mn") + (F.col("bin") + 1) * width).alias("bin_hi"),
            "cnt",
        )
    )
    return out


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Column profiler (data-quality audit): one output row per column with
    row count, null count, exact distinct count, and min/max rendered as
    strings. Everything is computed in a SINGLE pass over the input — the
    per-column aggregates are laid side by side in one groupBy().agg() so a
    100 TB scan is paid once, not once per column — then unpivoted with a
    stack() projection (narrow). Exact COUNT(DISTINCT) over many columns
    expands via Spark's Expand operator (one duplicate of each row per
    distinct-aggregate); for very wide tables swap in approx_count_distinct
    per column, which keeps the pass fully streaming."""
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__n_{c}`, `__nulls_{c}`, `__dist_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
    )


def rebalance_strata(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    denom: int = 10_000,
) -> DataFrame:
    """Rebalance strata to a UNIFORM mix by deterministic downsampling:
    every stratum is thinned to (approximately) the smallest stratum's
    size — the observed-counts autopilot over mix_sample's static rates
    (training-mix correction, e.g. equalizing domains before packing).

    Mechanics: one partially-aggregated count per stratum, the integer
    threshold floor(min_cnt * denom / cnt) per stratum (integer arithmetic
    so any SQL engine reproduces it bit-for-bit), broadcast back, and a
    codegen filter ``key mod denom < threshold``. Selection is keyed, so
    the kept set is identical on every run and cluster size — no rand().
    Scale: the counts frame has one row per stratum (broadcast), the
    filter is map-side; the input is scanned twice but shuffled never.

    Caveat (shared with mix_sample): realized rates track thresholds only
    when keys are roughly uniform modulo ``denom`` — true for dense or
    hashed ids spanning many multiples of denom, false for pathological
    patterns (e.g. ids in one short run, or all even with even denom).
    For such keys pre-mix with a coprime multiplier or a hash column
    first; the mechanism is unchanged.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_cnt"))
    m = counts.agg(F.min("_cnt").alias("_min_cnt"))
    # integer division end-to-end: any SQL engine reproduces the threshold
    # bit-for-bit (double division could round differently at the edge)
    thresholds = counts.crossJoin(F.broadcast(m)).select(
        stratum_col,
        F.expr(f"(_min_cnt * {int(denom)}) div _cnt").alias("_thresh"),
    )
    return (
        df.join(F.broadcast(thresholds), stratum_col)
        .filter(F.pmod(F.col(key_col), F.lit(denom)) < F.col("_thresh"))
        .drop("_thresh")
    )


def heavy_hitters(
    df: DataFrame, key_col: str, top: int = 10
) -> DataFrame:
    """Key-skew diagnostic: the `top` most frequent keys with their counts
    and corpus fraction — run this before a join/groupBy on key_col to
    decide whether salting (salted_join) is needed. One partially-aggregated
    shuffle on the key, then a driver-sized top-k sort."""
    n = df.count()
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            key_col,
            "cnt",
            pround(F.col("cnt") / F.lit(float(n)), 6).alias("frac"),
        )
        .orderBy(F.desc("cnt"), key_col)
        .limit(top)
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    by: str | list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Quantile clipping (winsorization) — the outlier guard applied to a
    numeric feature before normalization/training. Exact interpolated
    percentile bounds are computed per group (or globally) in ONE
    aggregation pass; the bounds frame has one row per group, so it is
    broadcast back and the clip itself (greatest/least) stays inside
    whole-stage codegen. Two scans of the input, zero wide shuffles of it.
    At extreme group cardinality swap percentile for approx_percentile —
    the plan shape is unchanged."""
    keys = [by] if isinstance(by, str) else list(by or [])
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    bounds = grouped.agg(
        F.expr(f"percentile({value_col}, {lo})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("__hi"),
    )
    joined = (
        df.join(F.broadcast(bounds), keys)
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    out = out_col or value_col
    return joined.withColumn(
        out,
        F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
    ).drop("__lo", "__hi")
