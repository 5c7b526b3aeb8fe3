"""Deduplication operators for large-scale training-data pipelines.

Exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
near-dup — each expressed with built-in DataFrame ops (no Python UDFs in any
hot path), so every stage shuffles on a key Catalyst understands and scales
by partitioning:

- shingling/hashing: per-row narrow expressions (xxhash64, transform)
- candidate generation: equi-joins on shingle/band/bucket keys — the shuffle
  is bounded by the band key cardinality, never all-pairs
- verification: joins restricted to candidate ids only

At 100 TB you run MinHash-LSH (linear scans + banded equi-join); the exact
all-pairs operators exist for verification and for small/medium tables.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fireworks_spark.functions.rounding import pround
from fireworks_spark.functions.text import normalize_text, words
from fireworks_spark.session import persist, release_caches  # noqa: F401

_log = logging.getLogger(__name__)

#: Projected pairwise-comparison budget above which the quadratic-by-
#: contract paths (blocked Hamming popcount, blocked cosine gram, exact
#: Jaccard verify) warn at runtime and name their sub-quadratic
#: alternative. 5e9 comparisons ~ minutes of BLAS/popcount on one node,
#: hours of join fan-out for the Jaccard verify — the point past which a
#: user who reached the exact path by default almost certainly wants the
#: LSH path instead. Tests may lower it to exercise the warning.
QUADRATIC_COMPARE_BUDGET: int = 5_000_000_000


def _quadratic_guard(n_items: int, op: str, alternative: str) -> int:
    """Self-diagnosing routing for the quadratic-by-contract operators:
    given the distinct-item count a blocked all-pairs path is about to
    square, warn (never fail) when the projected comparison volume exceeds
    :data:`QUADRATIC_COMPARE_BUDGET`, naming the sub-quadratic production
    alternative — the funnel skew probe's pattern (pipeline.py Pipe.funnel)
    applied to the dedup family. Returns the projected pair count."""
    proj = n_items * (n_items - 1) // 2
    if proj > QUADRATIC_COMPARE_BUDGET:
        import warnings

        warnings.warn(
            f"{op}: {n_items:,} distinct items project {proj:.2e} pairwise"
            f" comparisons — this path is quadratic by contract and the"
            f" volume exceeds the {QUADRATIC_COMPARE_BUDGET:.0e} budget"
            f" (dedup.QUADRATIC_COMPARE_BUDGET). It will complete, but"
            f" quadratically slower as the corpus grows; {alternative}",
            stacklevel=3,
        )
    return proj


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------


def ngrams_of(w: Column, n: int = 3) -> Column:
    """Array of word n-grams over an ALREADY-MATERIALIZED words array column.

    Always pass an attribute reference (a column produced by a projection),
    not the words() expression itself: expressions referenced inside a
    higher-order-function lambda are re-evaluated per element (no CSE in
    lambda bodies), so embedding the regex-normalize+split there multiplies
    the tokenization cost by 3x the shingle count. Documents with fewer
    than n words yield an empty array (sequence(1, 0) would DESCEND, so it
    is guarded)."""
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles straight from a text column. Fine for
    single-expression use; hot paths should tokenize once with words() in a
    projection and call ngrams_of on the materialized array (see
    _hashed_shingles)."""
    return ngrams_of(words(col), n)


from fireworks_spark.operators.spread import spread as _spread


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingles: array<bigint>) — tokenize ONCE into a materialized
    array, then shingle+hash from the reference. Shingles are xxhash64
    longs, not strings: identity is all Jaccard needs, an 8-byte key
    shuffles ~4x lighter than the text, and set ops compare longs (64-bit
    collisions are ~2^-64 per shingle pair — immaterial).

    Documents with fewer than n words (no shingles) are dropped HERE, as a
    filter on the cheap words array between the two projections. Filtering
    on size(shingles) downstream instead is a 30x trap: predicate pushdown
    substitutes the full shingle expression into the filter, re-inlining
    words() inside the transform lambda, and lambda bodies get no CSE — the
    regex tokenize then re-runs per element."""
    wdf = _spread(df).select(id_col, words(text_col).alias("_w"))
    return wdf.filter(F.size("_w") >= n).select(
        id_col,
        F.array_distinct(
            F.transform(ngrams_of(F.col("_w"), n), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) — one row per distinct hashed shingle per document."""
    return _hashed_shingles(df, id_col, text_col, n).select(
        id_col, F.explode("shingles").alias("shingle")
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles) — the distinct hashed-shingle array per document,
    unexploded. Used by the set-based Jaccard verify: intersections are
    computed per candidate pair with array_intersect on long arrays
    (O(|a|+|b|) per pair, no join amplification on hot shingles). Docs with
    no shingles are already dropped by _hashed_shingles (cheap pre-lambda
    filter — see its docstring for why NOT to filter size(shingles) here)."""
    return _hashed_shingles(df, id_col, text_col, n)


def shingle_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs (ida < idb) sharing at least one shingle.

    ``df_cap`` drops shingles appearing in more than df_cap documents from
    candidate GENERATION only (verification still uses every shingle, so the
    Jaccard values stay exact). A shingle shared by f documents produces
    O(f^2) join rows; uncapped, one boilerplate shingle at corpus scale makes
    the self-join quadratic in its document frequency. Capped, each join
    group is at most df_cap^2 rows — skew-proof at any scale. A true pair is
    missed only if EVERY shared shingle is hotter than the cap (i.e. the two
    documents overlap exclusively in corpus-wide boilerplate, which carries
    no dedup signal anyway).
    """
    sets = persist(shingle_sets(df, id_col, text_col, n))
    cand, _ = _candidate_stats(sets, id_col, df_cap)
    return cand.select("ida", "idb")


def _candidate_stats(
    sets: DataFrame,
    id_col: str,
    df_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Internal: candidate pairs WITH their cold-shingle co-occurrence count,
    plus per-document (size, hot-shingle count) stats, all derived from an
    (ideally persisted) shingle_sets frame so the tokenize+hash pipeline
    runs ONCE — the branching DAG here (candidates / sizes / hot counts /
    verify) would otherwise re-tokenize the corpus once per branch, which
    measured 5x slower than the persisted working set at sf0.1.

    Returns (cand, stats) where cand = (ida, idb, _common) — _common is the
    number of shared shingles NOT dropped by df_cap (an exact lower bound on
    |A ∩ B|) — and stats = (_id, _sz, _hot) with _sz the full distinct
    shingle count and _hot how many of those exceeded df_cap. The pair count
    comes from the same groupBy that deduplication needed anyway, so _common
    is free; it powers the exact upper bound
        jac <= (_common + min(hotA, hotB)) / max(szA, szB)
    that lets jaccard_pairs discard nearly every candidate before any
    shingle array moves through a shuffle.
    """
    sh = sets.select(id_col, F.explode("shingles").alias("shingle"))
    sizes = sets.select(id_col, F.size("shingles").alias("_sz"))
    if df_cap is not None:
        # persisted: consumed by BOTH the hot-count join and the cold
        # anti-join — unpersisted, the corpus-wide frequency aggregation
        # runs once per consumer.
        hot = persist(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        hotcnt = (
            sh.join(hot, "shingle").groupBy(id_col).agg(
                F.count(F.lit(1)).alias("_hot")
            )
        )
        cold = sh.join(hot, "shingle", "left_anti")
    else:
        hotcnt = sizes.select(id_col, F.lit(0).alias("_hot")).limit(0)
        cold = sh
    stats = sizes.join(hotcnt, id_col, "left").select(
        F.col(id_col).alias("_id"),
        "_sz",
        F.coalesce("_hot", F.lit(0)).alias("_hot"),
    )
    a = cold.select(F.col(id_col).alias("ida"), "shingle")
    b = cold.select(F.col(id_col).alias("idb"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    return cand, stats


def _prefix_len(sz: Column, t: float) -> Column:
    """AllPairs prefix length for Jaccard threshold ``t`` on a set of size
    ``sz``: L = sz - ceil(t*sz) + 1. Any pair with J >= t must share an
    element within both sets' first-L elements under ONE consistent global
    total order (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
    Search", WWW'07 — the prefix-filtering principle, also SSJoin/PPJoin).
    Proof shape: J >= t gives |A∩B| >= ceil(t*|A|); if the order-smallest
    common element sat outside A's prefix, every common element would lie
    in A's last ceil(t*|A|)-1 positions — too few. Same for B."""
    return (sz - F.ceil(F.lit(t) * sz) + 1).cast("int")


# Default extended-prefix depth (ADAPTJOIN, Wang et al. VLDB'12) per
# threshold regime: at high thresholds the AllPairs prefix is a few rare
# shingles and candidates stay near the output; at dedup thresholds near
# 0.5 HALF of every document posts, almost every candidate shares exactly
# ONE posted shingle, and the flood drowns the verify stage (sf3, t=0.5:
# 180M candidates for an 8.3k-pair output — 42s of candidates and 230s of
# stats+verify joins). Posting k-1 extra next-rarest shingles per doc and
# requiring k shared posted shingles is recall-exact (the j-th smallest
# common element of a pair with |A∩B| = c sits within A's first
# |A| - c + j <= |A| - ceil(t|A|) + j positions, for every j <= k when
# c >= k; pairs with c < k are caught by the least(k, ceil(t*min_size))
# floor) and measured 180M -> 59k candidates at k=4 for the same final
# answer, turning q31's sf3 wall from 277s into ~100s.
def _prefix_k(threshold: float) -> int:
    return 1 if threshold >= 0.7 else 4


def _prefix_candidate_stats(
    sets: DataFrame,
    id_col: str,
    threshold: float,
    k: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Prefix-filtered candidate pairs: recall-EXACT at any corpus scale.

    This replaces the global ``df_cap`` heuristic as the default candidate
    generator. The cap was skew-proof but lossy — a true pair whose every
    shared shingle exceeds the cap is silently missed, and shingle document
    frequencies grow with corpus size, so a cap tuned at sf0.1 broke at sf1
    (the round-9 sweep caught q31 under-reporting pairs on the 10x fixture).
    Prefix filtering bounds the index a different way: each document posts
    only its first L = |d| - ceil(t'|d|) + 1 shingles under the global
    (document-frequency ASC, shingle ASC) order — the RAREST shingles — and
    the AllPairs theorem guarantees every pair with true Jaccard >= t'
    collides on some posted shingle. t' carries the 0.0005 rounding slack
    so pairs that round up to the threshold still surface.

    Cost at scale: the posting list is ~(1-t) of all shingle occurrences,
    biased to df=1 shingles (which are dropped after prefix selection —
    df=1 cannot collide, and any SHARED shingle has df >= 2, so this is
    exact). Group size on a posted shingle is bounded by that shingle's
    global df, which rare-first ordering minimizes; the residual worst case
    (a corpus of near-identical documents) is Theta(output) — inherent to
    exact all-pairs, and the reason MinHash-LSH (minhash_dedup_pairs) is
    the 100 TB path while this stays verification-grade.

    ``k`` (default: _prefix_k(threshold)) is the extended-prefix depth:
    each document posts its first L = |d| - ceil(t'|d|) + k order-rarest
    shingles and a pair must share least(k, ceil(t'*min_size)) of them —
    recall-exact for every k (see _prefix_k), and the low-threshold
    lifesaver: at t=0.5 the k=1 candidates are a flood of
    share-exactly-one-shingle pairs that the verify stage then drowns in.

    Returns (cand, stats, pre): cand = (ida, idb, _common) where
    _common is the EXACT count of shared shingles inside both documents'
    extended prefixes — at every k, including k=1, where the PPJoin
    positional filter runs as a pair-survival test inside the aggregate
    so it can no longer thin the count (r10 verdict #4); stats =
    (_id, _sz, _hot) where _hot = max(ceil(t'*_sz) - k, 0) is the
    per-document count of non-posted shingles, closed-form from the
    size — no extra aggregation; pre = the persisted posted-prefix frame
    (id, shingle, _rn, _sz) both join sides scan.

    The caller's prune bound |A∩B| <= _common + _hotA + _hotB is EXACT
    for every k: each shared shingle is either inside both extended
    prefixes (counted in _common — a shared shingle has df >= 2, so the
    df=1 drop never loses one) or outside at least one prefix (covered
    by that document's _hot allowance). The bound may therefore be
    tightened freely; test_prefix_common_counts_all_collisions pins a
    pair the pre-fix earliest-collision undercount would drop under a
    tightened allowance.
    """
    t = threshold - 0.0005  # match the verify stage's rounding slack
    if k is None:
        k = _prefix_k(threshold)
    sh = sets.select(
        id_col,
        F.size("shingles").alias("_sz"),
        F.explode("shingles").alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    order = Window.partitionBy(id_col).orderBy("_df", "shingle")
    # persisted: BOTH sides of the candidate self-join scan this frame —
    # unpersisted, the dfreq join + per-doc ranking window run twice
    pre = persist(
        sh.join(dfreq, "shingle")
        .withColumn("_rn", F.row_number().over(order))
        .filter(
            F.col("_rn") <= _prefix_len(F.col("_sz"), t) + F.lit(k - 1)
        )
        .filter(F.col("_df") >= 2)  # df=1 cannot collide; exact to drop
        .select(id_col, "shingle", "_rn", "_sz")
    )
    a = pre.select(
        F.col(id_col).alias("ida"), "shingle",
        F.col("_rn").alias("_pa"), F.col("_sz").alias("_qa"),
    )
    b = pre.select(
        F.col(id_col).alias("idb"), "shingle",
        F.col("_rn").alias("_pb"), F.col("_sz").alias("_qb"),
    )
    joined = a.join(b, "shingle").filter(F.col("ida") < F.col("idb")).filter(
        F.least("_qa", "_qb") >= F.lit(t) * F.greatest("_qa", "_qb")
    )
    if k == 1:
        # PPJoin positional filter (Xiao et al., WWW'08), applied as a
        # pair-SURVIVAL test inside the aggregate rather than a row
        # filter before it: J >= t needs overlap c >= t(|A|+|B|)/(1+t),
        # and for the ORDER-EARLIEST common element at positions
        # (pa, pb) every other common element sits after it in BOTH
        # lists, so c <= 1 + min(|A|-pa, |B|-pb). A pair with NO row
        # passing that bound cannot reach the threshold (its earliest
        # collision row would have passed), so dropping such pairs loses
        # nothing. _common deliberately counts ALL collision rows — not
        # just positional survivors — so it is the EXACT count of shared
        # shingles inside both prefixes, and the caller's prune bound
        # |A∩B| <= _common + _hotA + _hotB is exact for every k (each
        # shared shingle is either inside both prefixes, counted here,
        # or outside at least one, covered by that document's _hot
        # allowance; df=1 shingles cannot be shared). Filtering rows
        # FIRST would undercount _common for true pairs whose later
        # collisions fail the positional bound — safe only while the
        # allowance stays loose, and one tightening away from silent
        # recall loss (r10 verdict #4).
        alpha = F.lit(t) * (F.col("_qa") + F.col("_qb")) / F.lit(1.0 + t)
        pos_ok = (
            1 + F.least(F.col("_qa") - F.col("_pa"),
                        F.col("_qb") - F.col("_pb"))
        ) >= alpha
        cand = (
            joined.groupBy("ida", "idb")
            .agg(
                F.count(F.lit(1)).alias("_common"),
                F.max(pos_ok.cast("int")).alias("_pos"),
            )
            .filter(F.col("_pos") == 1)
            .select("ida", "idb", "_common")
        )
    else:
        # extended-prefix count filter (see _prefix_k): a true pair
        # shares at least least(k, ceil(t*min_size)) shingles within the
        # k-extended prefixes; everything below that is provably under
        # threshold. _qa/_qb are constant per document — min() just
        # carries them through the aggregate.
        cand = (
            joined.groupBy("ida", "idb")
            .agg(
                F.count(F.lit(1)).alias("_common"),
                F.min("_qa").alias("_qa"),
                F.min("_qb").alias("_qb"),
            )
            .filter(
                F.col("_common")
                >= F.least(
                    F.lit(k),
                    F.ceil(F.lit(t) * F.least("_qa", "_qb")),
                )
            )
            .select("ida", "idb", "_common")
        )
    stats = sets.select(
        F.col(id_col).alias("_id"),
        F.size("shingles").alias("_sz"),
        F.greatest(
            F.ceil(F.lit(t) * F.size("shingles")) - k, F.lit(0)
        ).cast("long").alias("_hot"),
    )
    return cand, stats, pre


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by md5 of normalized text; keeps the minimum id
    as the representative (hash-groupBy — one shuffle on the 128-bit key,
    partial agg does the heavy lifting map-side)."""
    return (
        df.select(id_col, F.md5(normalize_text(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
        .drop("h")
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (verification-grade)
# --------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    size_check: bool = False,
) -> DataFrame:
    """Pairs (ida < idb) with word-n-gram Jaccard >= threshold (exact values).

    Two stages:
    1. candidates — by default an AllPairs prefix-filtered self-equi-join
       (see _prefix_candidate_stats: recall-exact at ANY corpus scale); or
       the legacy df-capped join when ``df_cap`` is given (skew-bounded but
       LOSSY — a pair sharing only hotter-than-cap shingles is missed, and
       dfs grow with corpus size, so a cap tuned small breaks big); or an
       external candidate set (e.g. MinHash-LSH) via ``candidates``;
    2. verify — join each candidate pair to the two documents' shingle SETS
       and compute |A ∩ B| with array_intersect. Per-pair cost is
       O(|A| + |B|); hot shingles cannot amplify this stage because there is
       no shingle-keyed join here at all.

    The verify uses ALL shingles (including any dropped by df_cap during
    candidate generation), so reported Jaccard values are exact.

    Before the (heavy) set joins, candidates are pruned by two exact bounds
    (no false negatives):
    - size ratio: jac <= min(|A|,|B|) / max(|A|,|B|);
    - intersection: jac <= (_common + allowance) / max(|A|,|B|), where
      _common (shared counted-shingle count) falls out of the candidate
      groupBy for free and the allowance is min(hotA,hotB) for the df_cap
      path / hotA+hotB for the prefix path (see _prefix_candidate_stats).
    At dedup thresholds nearly every candidate dies here, so the heavy
    array_intersect verify touches only near-certain pairs.

    The per-document shingle-set frame is persisted: candidates, stats and
    verify all branch from it, and without materialization each branch
    would re-run the tokenize+hash pipeline over the corpus (measured 5x
    slower at sf0.1). The frame holds one hashed-long array per document —
    a small fraction of corpus size; MEMORY_AND_DISK eviction makes it safe
    at any scale.

    ``size_check=True`` (prefix path only) runs ONE eager diagnostic
    aggregation over the posted-prefix frame before returning: projected
    candidate rows = sum over posted shingles of df*(df-1)/2. If that
    exceeds dedup.QUADRATIC_COMPARE_BUDGET, a warning names MinHash-LSH
    (minhash_dedup_pairs) as the sub-quadratic production path — exact
    all-pairs Jaccard is Theta(output) by contract on near-duplicate-heavy
    corpora. OPT-IN because it executes a Spark job at plan-construction
    time (the funnel skew probe's contract, Pipe.funnel).
    """
    sets = persist(shingle_sets(df, id_col, text_col, n))
    # allowance for shared shingles the candidate groupBy could not count:
    # df_cap path -> an uncounted shared shingle is hot in BOTH docs (min);
    # prefix path -> it is outside at least one doc's prefix (sum).
    allow = F.least("_ha", "_hb")
    if candidates is None:
        if df_cap is None:
            cand, stats, pre = _prefix_candidate_stats(
                sets, id_col, threshold
            )
            allow = F.col("_ha") + F.col("_hb")
            if size_check:
                # pre is the persisted posted-prefix frame (also
                # consumed by the candidate join below, so this probe's
                # scan is reused, not wasted). Projected candidate rows:
                # every posted shingle with prefix-df d contributes
                # d*(d-1)/2 (ida < idb) join rows.
                proj = int(
                    pre.groupBy("shingle")
                    .agg(F.count(F.lit(1)).alias("_d"))
                    .agg(
                        F.coalesce(
                            F.sum(
                                F.col("_d") * (F.col("_d") - 1) / 2
                            ),
                            F.lit(0.0),
                        ).alias("_p")
                    )
                    .collect()[0]["_p"]
                )
                if proj > QUADRATIC_COMPARE_BUDGET:
                    import warnings

                    warnings.warn(
                        f"jaccard_pairs: prefix filtering projects "
                        f"{proj:.2e} candidate rows — past the "
                        f"{QUADRATIC_COMPARE_BUDGET:.0e} budget "
                        f"(dedup.QUADRATIC_COMPARE_BUDGET). Exact "
                        "all-pairs Jaccard is Theta(output) by contract "
                        "on near-duplicate-heavy corpora; route to "
                        "minhash_dedup_pairs (MinHash-LSH) for the "
                        "sub-quadratic production path.",
                        stacklevel=2,
                    )
        else:
            cand, stats = _candidate_stats(sets, id_col, df_cap)
    else:
        cand = candidates.select("ida", "idb").distinct().withColumn(
            "_common", F.lit(None).cast("long")
        )
        stats = sets.select(
            F.col(id_col).alias("_id"),
            F.size("shingles").alias("_sz"),
            F.lit(0).alias("_hot"),
        )
    # 0.0005 slack everywhere: jac is rounded to 3 decimals before the
    # threshold filter, so true jac >= threshold - 0.0005 can pass.
    thr = F.lit(threshold - 0.0005)
    cand = (
        cand.join(
            stats.select(
                F.col("_id").alias("ida"),
                F.col("_sz").alias("_sza"),
                F.col("_hot").alias("_ha"),
            ),
            "ida",
        )
        .join(
            stats.select(
                F.col("_id").alias("idb"),
                F.col("_sz").alias("_szb"),
                F.col("_hot").alias("_hb"),
            ),
            "idb",
        )
        # exact size bound: jac <= min(|A|,|B|) / max(|A|,|B|)
        .filter(
            F.least("_sza", "_szb") >= thr * F.greatest("_sza", "_szb")
        )
        # exact intersection bound: |A∩B| <= _common + allowance (min of
        # hot counts for df_cap, sum of non-posted counts for prefix) and
        # |A∪B| >= max(|A|,|B|), so jac <= (common+allow)/max — pairs
        # below threshold on this bound cannot verify; drop them before the
        # heavy set join. _common is null for externally-supplied candidate
        # sets (no co-occurrence counts), where the filter passes through.
        .filter(
            F.coalesce(
                (F.col("_common") + allow)
                >= thr * F.greatest("_sza", "_szb"),
                F.lit(True),
            )
        )
        .select("ida", "idb")
    )
    sa = sets.select(F.col(id_col).alias("ida"), F.col("shingles").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("idb"), F.col("shingles").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = inter / (F.size("_sa") + F.size("_sb") - inter)
    out = (
        cand.join(sa, "ida")
        .join(sb, "idb")
        .select("ida", "idb", pround(jac, 3).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return out


def jaccard_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_cap: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus similarity JOIN: pairs (lid from ``left``, rid from
    ``right``) with word-n-gram Jaccard >= threshold (exact values) — the
    two-table face of :func:`jaccard_pairs`, e.g. "which eval documents
    fuzzily overlap the training corpus" when exact n-gram decontamination
    is too strict.

    Same three-stage shape as the self-join: (1) candidates from an
    AllPairs prefix-filtered equi-join LEFT x RIGHT by default (one
    union-wide document-frequency order; recall-exact at any scale — see
    _prefix_candidate_stats), or the legacy df-capped join when ``df_cap``
    is given (``df_cap`` counts a shingle's frequency across BOTH corpora,
    bounding any join group at df_cap^2 rows, but LOSSY for pairs sharing
    only hotter-than-cap shingles), or an external candidate set
    (e.g. banded MinHash from :func:`minhash_join`) via ``candidates``;
    (2) two exact pruning bounds (size ratio; shared-counted + allowance)
    kill nearly every candidate before data moves; (3)
    per-pair array_intersect verify over ALL shingles, so reported values
    are exact. Both shingle-set frames persist (each feeds candidates,
    stats, and verify); ``release_caches`` frees them.
    """
    sl = persist(shingle_sets(left, id_col, text_col, n))
    sr = persist(shingle_sets(right, id_col, text_col, n))
    shl = sl.select(F.col(id_col).alias("lid"), F.explode("shingles").alias("shingle"))
    shr = sr.select(F.col(id_col).alias("rid"), F.explode("shingles").alias("shingle"))
    allow = F.least("_hl", "_hr")  # df_cap: uncounted shared is hot in BOTH
    prefix_hot = None
    if candidates is not None:
        cand = candidates.select("lid", "rid").distinct().withColumn(
            "_common", F.lit(None).cast("long")
        )
        df_cap = None  # external candidates: no co-occurrence counts
    elif df_cap is None:
        # AllPairs prefix filtering over the UNION-wide document-frequency
        # order — recall-exact at any scale, same argument as the self-join
        # (_prefix_candidate_stats); the theorem only needs ONE consistent
        # global order across both corpora. k-extended prefixes + the
        # shared-count floor kill the low-threshold singleton flood
        # exactly as in the self-join (see _prefix_k).
        t = threshold - 0.0005
        k = _prefix_k(threshold)
        allow = F.col("_hl") + F.col("_hr")  # outside either doc's prefix
        sll = sl.select(
            F.col(id_col).alias("lid"),
            F.size("shingles").alias("_sz"),
            F.explode("shingles").alias("shingle"),
        )
        srr = sr.select(
            F.col(id_col).alias("rid"),
            F.size("shingles").alias("_sz"),
            F.explode("shingles").alias("shingle"),
        )
        # persisted: both corpora's prefix selections scan the union-wide
        # frequency table — unpersisted it aggregates twice
        dfreq = persist(
            sll.select("shingle")
            .unionAll(srr.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
        )

        def _prefix(sh: DataFrame, key: str, p: str, q: str) -> DataFrame:
            order = Window.partitionBy(key).orderBy("_df", "shingle")
            return (
                sh.join(dfreq, "shingle")
                .withColumn("_rn", F.row_number().over(order))
                .filter(
                    F.col("_rn")
                    <= _prefix_len(F.col("_sz"), t) + F.lit(k - 1)
                )
                .filter(F.col("_df") >= 2)  # union-df 1 cannot collide
                .select(
                    key, "shingle",
                    F.col("_rn").alias(p), F.col("_sz").alias(q),
                )
            )

        joined_lr = (
            _prefix(sll, "lid", "_pl", "_ql")
            .join(_prefix(srr, "rid", "_pr", "_qr"), "shingle")
            .filter(
                F.least("_ql", "_qr") >= F.lit(t) * F.greatest("_ql", "_qr")
            )
        )
        if k == 1:
            # same per-row PPJoin positional pruning as the self-join
            # (_prefix_candidate_stats) — exactness argument identical,
            # and equally k=1-only
            alpha = F.lit(t) * (F.col("_ql") + F.col("_qr")) / F.lit(1.0 + t)
            cand = (
                joined_lr.filter(
                    1 + F.least(F.col("_ql") - F.col("_pl"),
                                F.col("_qr") - F.col("_pr")) >= alpha
                )
                .groupBy("lid", "rid")
                .agg(F.count(F.lit(1)).alias("_common"))
            )
        else:
            cand = (
                joined_lr.groupBy("lid", "rid")
                .agg(
                    F.count(F.lit(1)).alias("_common"),
                    F.min("_ql").alias("_ql"),
                    F.min("_qr").alias("_qr"),
                )
                .filter(
                    F.col("_common")
                    >= F.least(
                        F.lit(k),
                        F.ceil(F.lit(t) * F.least("_ql", "_qr")),
                    )
                )
                .select("lid", "rid", "_common")
            )
        # non-posted count per doc is closed-form: max(ceil(t*sz) - k, 0)
        prefix_hot = (
            sl.select(
                F.col(id_col).alias("lid"),
                F.greatest(
                    F.ceil(F.lit(t) * F.size("shingles")) - k, F.lit(0)
                )
                .cast("long")
                .alias("_hl"),
            ),
            sr.select(
                F.col(id_col).alias("rid"),
                F.greatest(
                    F.ceil(F.lit(t) * F.size("shingles")) - k, F.lit(0)
                )
                .cast("long")
                .alias("_hr"),
            ),
        )
    if df_cap is not None:
        # persisted: four consumers (two anti-joins, two hot-count joins)
        # would otherwise each recompute the union-wide frequency agg
        hot = persist(
            shl.select("shingle")
            .unionAll(shr.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        coldl = shl.join(hot, "shingle", "left_anti")
        coldr = shr.join(hot, "shingle", "left_anti")
        hotl = shl.join(hot, "shingle").groupBy("lid").agg(
            F.count(F.lit(1)).alias("_hl")
        )
        hotr = shr.join(hot, "shingle").groupBy("rid").agg(
            F.count(F.lit(1)).alias("_hr")
        )
        cand = coldl.join(coldr, "shingle").groupBy("lid", "rid").agg(
            F.count(F.lit(1)).alias("_common")
        )
    elif prefix_hot is not None:
        hotl, hotr = prefix_hot  # closed-form; cand set by the prefix path
    else:
        hotl = shl.select("lid").limit(0).withColumn("_hl", F.lit(0))
        hotr = shr.select("rid").limit(0).withColumn("_hr", F.lit(0))
    statl = (
        sl.select(F.col(id_col).alias("lid"), F.size("shingles").alias("_szl"))
        .join(hotl, "lid", "left")
        .select("lid", "_szl", F.coalesce("_hl", F.lit(0)).alias("_hl"))
    )
    statr = (
        sr.select(F.col(id_col).alias("rid"), F.size("shingles").alias("_szr"))
        .join(hotr, "rid", "left")
        .select("rid", "_szr", F.coalesce("_hr", F.lit(0)).alias("_hr"))
    )
    thr = F.lit(threshold - 0.0005)  # same rounding slack as jaccard_pairs
    cand = (
        cand.join(statl, "lid")
        .join(statr, "rid")
        .filter(F.least("_szl", "_szr") >= thr * F.greatest("_szl", "_szr"))
        # null _common (external candidate sets) passes through; the
        # allowance is min(hot) for df_cap vs sum(non-posted) for prefix
        .filter(
            F.coalesce(
                (F.col("_common") + allow)
                >= thr * F.greatest("_szl", "_szr"),
                F.lit(True),
            )
        )
        .select("lid", "rid")
    )
    sa = sl.select(F.col(id_col).alias("lid"), F.col("shingles").alias("_sa"))
    sb = sr.select(F.col(id_col).alias("rid"), F.col("shingles").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = inter / (F.size("_sa") + F.size("_sb") - inter)
    out = (
        cand.join(sa, "lid")
        .join(sb, "rid")
        .select("lid", "rid", pround(jac, 3).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return out


# --------------------------------------------------------------------------
# MinHash + LSH (the 100 TB path)
# --------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """One row per document with columns h0..h{k-1} = min over shingles of
    xxhash64(k, shingle). All k mins compute in ONE aggregation pass — a
    single shuffle on the document id."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band_idx, band_key): one row per band, key = hash of the band's
    signature slice. Docs colliding on (band_idx, band_key) are candidates."""
    num_bands = num_hashes // rows_per_band
    # One selectExpr + inline() instead of a py4j loop building num_bands
    # struct Columns and a two-step explode/extract (~0.25s of driver
    # chatter per call at 16 bands, r15): identical band keys
    # (xxhash64 over the same h-columns), identical output schema.
    structs = ", ".join(
        "struct({b} AS band_idx, xxhash64({hs}) AS band_key)".format(
            b=b,
            hs=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(num_bands)
    )
    qid = "`" + id_col.replace("`", "``") + "`"
    return sig.selectExpr(qid, f"inline(array({structs}))")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """Candidate pairs from banded MinHash — equi-join on (band_idx, band_key)
    so the shuffle groups only same-bucket docs; never all-pairs. Signatures
    come from the row-wise (shuffle-free) path: measured 15x faster than the
    explode+groupBy formulation at sf0.1 (0.8s vs 12.7s for 32 hashes) —
    the whole signature stage is a narrow projection."""
    sig = minhash_signatures_rowwise(df, id_col, text_col, num_hashes, n)
    bd = lsh_bands(sig, id_col, num_hashes, rows_per_band)
    a = bd.select(F.col(id_col).alias("ida"), "band_idx", "band_key")
    b = bd.select(F.col(id_col).alias("idb"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard >= threshold — the standard
    minhash dedup pipeline (candidates are a tiny fraction of all pairs, so
    the verify join is cheap)."""
    cand = minhash_lsh_candidates(df, id_col, text_col, num_hashes, rows_per_band, n)
    return jaccard_pairs(df, threshold, id_col, text_col, n, candidates=cand)


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """Cross-corpus MinHash-LSH similarity join: banded-signature
    candidates between ``left`` and ``right`` verified by exact Jaccard >=
    threshold — the 100 TB face of :func:`jaccard_join` (incremental dedup
    of a new batch against an existing corpus, eval-vs-train fuzzy
    overlap at web scale).

    Signatures are the row-wise shuffle-free projection on each side; the
    candidate join is an equi-join on (band_idx, band_key), so the shuffle
    groups only same-bucket docs from the two corpora — never all-pairs,
    and a band bucket's size bounds its join group. At the default 16
    bands x 2 rows, recall at J >= 0.8 is ~certain (1-(1-J^2)^16 > 0.9999),
    which is what lets the exact-SQL cross-Jaccard serve as a value oracle.
    """
    sigl = minhash_signatures_rowwise(left, id_col, text_col, num_hashes, n)
    sigr = minhash_signatures_rowwise(right, id_col, text_col, num_hashes, n)
    bl = lsh_bands(sigl, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("lid"), "band_idx", "band_key"
    )
    br = lsh_bands(sigr, id_col, num_hashes, rows_per_band).select(
        F.col(id_col).alias("rid"), "band_idx", "band_key"
    )
    cand = (
        bl.join(br, ["band_idx", "band_key"]).select("lid", "rid").distinct()
    )
    return jaccard_join(
        left, right, threshold, id_col, text_col, n, candidates=cand
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def portable_token_hash60(w: Column) -> Column:
    """60-bit token hash computable IDENTICALLY in Spark and ANSI-ish SQL:
    the first 15 hex chars of md5, parsed as an integer. DuckDB spells the
    same value ('0x' || substring(md5(w), 1, 15))::BIGINT — this is what
    lets a SimHash built on it be oracle-checked end-to-end (q33), where
    xxhash64 (Spark-only) admits just a rows-only check. 60 bits keep the
    value inside a signed 64-bit long with sign bit clear in both engines;
    the top 4 signature bits then fold to 0 on every document, which both
    sides reproduce. Default SimHash stays on xxhash64 — one fused JVM hash
    vs md5+substring+conv (~2x the per-token expression cost)."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens weighted by term frequency.

    ``token_hash`` (Column -> Column) plugs the per-token hash; default
    xxhash64 (fastest), portable_token_hash60 for cross-engine parity.

    Frequency weighting == summing the per-token ±1 contribution over ALL
    occurrences, so the signature is a pure PER-ROW computation — no
    shuffle at all. Tokenize + xxhash64 stay JVM-side; one Arrow pass
    unpacks the 64 bits of every token hash and folds them with a single
    vectorized reduceat per batch (the previous 64-conditional-sum
    aggregate paid a shuffle plus a multi-second codegen compile).

    Bit b of the signature is 1 iff sum over occurrences of
    (bit b of xxhash64(token) ? +1 : -1) > 0 — ties to 0 (asserted
    bit-exact against an independent Python reference in test_dedup)."""
    import numpy as np
    import pandas as pd

    th = token_hash or (lambda w: F.xxhash64(w))
    hashed = _spread(df).select(
        id_col,
        F.transform(words(text_col), th).alias("_th"),
    )

    def _sign(batches):
        shifts = np.arange(64, dtype=np.int64)
        for b in batches:
            if not len(b):
                continue
            lens = np.fromiter((len(t) for t in b["_th"]), dtype=np.int64)
            out = np.zeros(len(b), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(t, dtype=np.int64) for t in b["_th"] if len(t)]
                )
                # (n_tokens, 64) ±1 contributions, summed per document
                contrib = (((flat[:, None] >> shifts) & 1) * 2 - 1).astype(
                    np.int64
                )
                offsets = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
                sums = np.add.reduceat(contrib, offsets, axis=0)
                bits = (sums > 0).astype(np.uint64)
                out[nz] = (bits << shifts.astype(np.uint64)).sum(
                    axis=1
                ).astype(np.int64)
            yield pd.DataFrame({id_col: b[id_col], "simhash": out})

    return hashed.mapInPandas(_sign, f"{id_col} long, simhash long")


# Below this band-key width, pigeonhole banding admits ~everything (a w-bit
# key has 2^w buckets, so D distinct signatures collide at D^2/2^w per band
# — for w=5 that is MORE work than brute force) and the blocked all-pairs
# popcount is strictly faster. Measured on the 50k-doc sf1 fixture, radius
# 8 on 48 bits (5/6-bit keys): banding 189s, blocked 27s end-to-end
# (DuckDB's bare popcount loop over pre-built signatures: 9s).
_BAND_PAYS_OFF_BITS = 10

# Skew-aware routing constants for hamming_pairs, calibrated on the
# sf1/sf3 fixtures (round 10; tools/scaling probes in SCALE.md):
#
# _BANDING_ROW_BUDGET — banding's candidate join+dedup+verify runs at
# ~75 ns/row while the volume fits the shuffle in memory (21.7M rows:
# 1.6s at sf1) but degrades ~12x once it spills/sorts out of memory
# (195M rows: 177s at sf3 — same 1.8% cand/D^2 ratio, so NO function of
# the relative prune quality can separate the regimes; the boundary is
# ABSOLUTE volume). The blocked popcount never enters that regime: its
# working set is one fixed block pair per task. Past this many measured
# candidate rows, route to blocked. The default fits the local[24-32]
# / 128 GB test rig; on a real cluster scale it with aggregate shuffle
# memory (rows * ~24 bytes should stay well inside executor memory).
_BANDING_ROW_BUDGET = 64_000_000
#
# Routing-probe memo (r10 verdict #6): hamming_pairs' eager sizing
# histogram costs a full pass over the distinct signatures (~1.5s at
# sf0.1 — for simhash, a Python stage over the corpus) and is pure
# plan-selection input, so one session re-running the SAME input plan
# (idempotent pipelines, retries, interactive re-use) should pay it
# once. Keyed on the ANALYZED plan's semanticHash + the banding shape;
# the decision is a performance choice, never a correctness one, so a
# stale entry after the underlying files change costs at most a
# suboptimal route — call clear_routing_cache() to drop it.
_ROUTING_CACHE: dict = {}
_ROUTING_CACHE_MAX = 64


def clear_routing_cache() -> None:
    """Drop hamming_pairs' memoized sizing probes (e.g. after the files
    behind a re-used input plan have been rewritten)."""
    _ROUTING_CACHE.clear()


def _source_fingerprint(df: DataFrame):
    """Best-effort identity of the DATA behind a plan: (path, mtime, size)
    over the leaf scans' input files. semanticHash alone is a PLAN
    identity — rewriting the same path in place (fixture regeneration
    mid-session: same path, same plan, new bytes) keeps the hash while
    changing the data, so a memoized sizing count would silently reuse a
    stale D for block sizing and the quadratic guard — the same
    stale-identity class the streaming stage cache closed with mtime
    fingerprints. Bounded at 256 stat calls; the total file count always
    folds in, so adding/removing files past the cap still changes the key.
    None (non-file source, listing failure) degrades to the plan hash
    alone — no worse than the pre-fingerprint behavior, and logged."""
    try:
        files = df.inputFiles()
    except Exception:
        _log.warning(
            "input file listing failed; routing key uses the plan hash alone",
            exc_info=True,
        )
        return None
    sig: list = [len(files)]
    for f in sorted(files)[:256]:
        p = f[5:] if f.startswith("file:") else f
        try:
            st = os.stat(p)
            sig.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((f, -1, -1))
    return tuple(sig)


def _routing_key(df: DataFrame, *shape):
    try:
        return (
            df._jdf.queryExecution().analyzed().semanticHash(),
            _source_fingerprint(df),
        ) + shape
    except Exception:  # plan not hashable (foreign session internals)
        _log.warning(
            "plan not hashable; hamming_pairs routing memo disabled",
            exc_info=True,
        )
        return None


# _BANDING_PRUNE_FACTOR — even inside the in-memory regime, banding
# must actually PRUNE: its per-row cost (~75 ns: shuffle + hash join +
# pair-dedup) is ~3x the blocked kernel's per-pair cost (~25 ns with
# the uint8 plane-summed table gather), so once the measured candidate
# volume exceeds D^2/2 divided by this factor, brute force is cheaper.
# Uniform w-bit keys give cand = (r+1)*D^2/2^w, which trips this only
# for w < ~6 — the static _BAND_PAYS_OFF_BITS check fires first; the
# factor exists for skewed-but-small corpora the width check cannot see.
_BANDING_PRUNE_FACTOR = 8


_POPCOUNT_TBL = None


def _popcount_table():
    """16-bit popcount lookup table (uint8), built once per interpreter —
    _emit runs once per applyInPandas GROUP (up to nb*(nb+1)/2 of them),
    so rebuilding the 65536-entry table per call would be pure redundant
    work on the exact hot path the fused route exists to shrink."""
    global _POPCOUNT_TBL
    if _POPCOUNT_TBL is None:
        import numpy as np

        tbl = np.zeros(1 << 16, dtype=np.uint8)
        ar = np.arange(1 << 16, dtype=np.uint32)
        for shift in range(16):
            tbl += ((ar >> shift) & 1).astype(np.uint8)
        _POPCOUNT_TBL = tbl
    return _POPCOUNT_TBL


def _blocked_hamming_id_pairs(
    ids: DataFrame,
    max_hamming: int,
    block_size: int = 4096,
    n: int | None = None,
) -> DataFrame:
    """All (ida < idb) pairs with Hamming(signature) <= max_hamming via a
    distributed blocked XOR-popcount — the exact analog of
    blocked_cosine_pairs for the regime where banding has no keyspace left
    (wide radius on a short signature). ``ids`` is (id, _sig).

    FUSED design (round 14 — the previous shape was ~8 small serialized
    stages whose fixed scheduling cost made q147 the suite's most
    host-sensitive query): ONE groupBy(_sig) shuffle yields the distinct
    signatures AND their id lists together; each signature row then
    EXPLODES to the ceil(D/block_size)-choose-2 upper-triangle task keys
    it participates in (role 0 = x-side for its own diagonal and the
    blocks after it, role 1 = y-side for the blocks before it — exactly
    nb replicas per signature, no block-pair join, no repartition); each
    task XORs one uint64 outer product, popcounts it with a 16-bit lookup
    table, and expands the surviving signature pairs' id lists to
    (ida, idb, hamming) IN-TASK — the id re-expansion joins and the
    Hamming-0 same-signature self-join of the old shape are gone (each
    signature's internal id pairs are emitted by its own diagonal task).
    Theta(D^2) popcounts over DISTINCT signatures at numpy speed; D is
    bounded by the signature space and corpus deduplication.

    The sizing count (nb needs D) is memoized on the input plan's
    semanticHash (_ROUTING_CACHE), so a warm re-run — bench reps, retried
    pipelines — constructs the whole thing with ZERO eager jobs and
    executes as a single 3-shuffle job: scan -> groupBy(_sig) ->
    task-key shuffle -> popcount+expand. Callers that already measured D
    (hamming_pairs' banding probe) pass ``n`` to skip the count outright.

    Duplication skew: a signature's id list concentrates in one row
    (8 bytes/id — 1M exact dups of one document is an 8 MB cell), where
    the old expansion join spread the same ids over tasks; the OUTPUT
    cost is identical (k dups pair quadratically in both shapes, and the
    old same-sig self-join materialized the same k^2/2 rows), so the
    practical bound is unchanged — pair volume, not list width, is what
    outgrows a corpus first, and the quadratic guard fires well before
    either hurts.
    """
    import math

    import numpy as np
    import pandas as pd

    gsig = ids.groupBy("_sig").agg(F.collect_list("id").alias("_ids"))
    if n is None:
        mkey = _routing_key(ids, "blocked_n")
        if mkey is not None and mkey in _ROUTING_CACHE:
            n = _ROUTING_CACHE[mkey]
        else:
            # persisted BEFORE the sizing count so the pair job reuses the
            # aggregation instead of recomputing it and its upstream (for
            # simhash, a full Python pass over the corpus)
            gsig = persist(gsig)
            n = gsig.count()
            if mkey is not None:
                if len(_ROUTING_CACHE) >= _ROUTING_CACHE_MAX:
                    _ROUTING_CACHE.clear()
                _ROUTING_CACHE[mkey] = n
    _quadratic_guard(
        n,
        "hamming_pairs (blocked all-pairs route)",
        "grow num_bits or shrink max_hamming so the band keyspace "
        "returns above _BAND_PAYS_OFF_BITS and the pigeonhole banding "
        "route prunes again, or accept approximate recall via "
        "minhash_dedup_pairs",
    )
    nb = max(1, math.ceil(n / block_size))
    blk = F.pmod(F.xxhash64("_sig"), F.lit(nb)).cast("int")
    # a signature in block b meets every block o exactly once, in the
    # upper-triangle task (min(b,o), max(b,o)): role 0 (x-side) when
    # b <= o — which covers its own diagonal task — else role 1 (y-side).
    # Exactly nb replicas per signature, generated by a single transform
    # (no block-pair join, no repartition).
    tasks = gsig.select("_sig", "_ids", blk.alias("_b")).select(
        "_sig",
        "_ids",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(nb - 1)),
                lambda o: F.struct(
                    (
                        F.least(F.col("_b"), o) * nb
                        + F.greatest(F.col("_b"), o)
                    ).alias("t"),
                    F.when(F.col("_b") <= o, F.lit(0))
                    .otherwise(F.lit(1))
                    .alias("role"),
                ),
            )
        ).alias("_tr"),
    ).select(
        F.col("_tr.t").alias("_t"),
        F.col("_tr.role").alias("_role"),
        "_sig",
        "_ids",
    )

    def _emit(key, pdf):
        tbl = _popcount_table()
        bx, by = divmod(int(key[0]), nb)
        diag = bx == by
        if diag:
            pa = pdf
            pb = pdf
        else:
            xm = pdf["_role"].to_numpy() == 0
            pa = pdf[xm]
            pb = pdf[~xm]
        out_a, out_b, out_h = [], [], []
        if diag:
            # each signature lands in exactly one diagonal task: its id
            # list's internal (Hamming 0) pairs are emitted here, once
            for lst in pa["_ids"]:
                if len(lst) > 1:
                    l = np.sort(np.asarray(lst, dtype=np.int64))
                    iu, ju = np.triu_indices(len(l), 1)
                    ea, eb = l[iu], l[ju]
                    # strict <: a duplicated (id, sig) input row must not
                    # emit an (x, x) self-pair — the old same-sig
                    # self-join's ida < idb filter, preserved
                    keep = ea < eb
                    out_a.append(ea[keep])
                    out_b.append(eb[keep])
                    out_h.append(np.zeros(int(keep.sum()), dtype=np.int32))
        if len(pa) and len(pb):
            A = pa["_sig"].to_numpy(np.int64).view(np.uint64)
            B = pb["_sig"].to_numpy(np.int64).view(np.uint64)
            X = A[:, None] ^ B[None, :]
            # popcount via 4 x 16-bit words (little-endian view).
            # Summing the four table-gathered PLANES in uint8 (max
            # popcount 64 < 256, no overflow) instead of one 3-D
            # gather + int32 axis-sum measured 2-4x faster — the
            # int32 intermediate was 4x the memory traffic.
            V = X.view(np.uint16).reshape(len(A), len(B), 4)
            H = tbl[V[:, :, 0]]
            for k in range(1, 4):
                H += tbl[V[:, :, k]]
            ii, jj = np.nonzero(H <= max_hamming)
            if diag:
                keep = A[ii] < B[jj]  # one order per pair, no diagonal
                ii, jj = ii[keep], jj[keep]
            if len(ii):
                # Vectorized ragged cross-product of the surviving pairs'
                # id lists. The obvious per-pair Python loop is a latent
                # cliff in the dense-radius regime (max_hamming close to
                # num_bits: most of the D^2 pairs survive and the loop,
                # not the popcount, dominates task time — a cost the old
                # join-based expansion never had). Instead: concatenate
                # each side's id pool ONCE per task, then address every
                # output row with arange/div/mod index arithmetic — a
                # fixed handful of O(total-output) numpy ops regardless
                # of how many pairs survive.
                la = pa["_ids"].to_numpy()
                lb = pb["_ids"].to_numpy()
                lena = np.fromiter(
                    (len(x) for x in la), dtype=np.int64, count=len(la)
                )
                lenb = np.fromiter(
                    (len(x) for x in lb), dtype=np.int64, count=len(lb)
                )
                cat_a = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in la]
                )
                cat_b = (
                    cat_a
                    if diag
                    else np.concatenate(
                        [np.asarray(x, dtype=np.int64) for x in lb]
                    )
                )
                offs_a = np.zeros(len(la) + 1, dtype=np.int64)
                np.cumsum(lena, out=offs_a[1:])
                offs_b = np.zeros(len(lb) + 1, dtype=np.int64)
                np.cumsum(lenb, out=offs_b[1:])
                nb_p = lenb[jj]  # per-pair y-list length
                counts = lena[ii] * nb_p
                total = int(counts.sum())
                pair_idx = np.repeat(np.arange(len(ii)), counts)
                starts = np.zeros(len(ii), dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                within = np.arange(total, dtype=np.int64) - np.repeat(
                    starts, counts
                )
                nb_rep = nb_p[pair_idx]
                ea = cat_a[offs_a[ii][pair_idx] + within // nb_rep]
                eb = cat_b[offs_b[jj][pair_idx] + within % nb_rep]
                out_a.append(np.minimum(ea, eb))
                out_b.append(np.maximum(ea, eb))
                out_h.append(
                    np.repeat(H[ii, jj].astype(np.int32), counts)
                )
        if not out_a:
            return pd.DataFrame(
                {
                    "ida": pd.Series(dtype="int64"),
                    "idb": pd.Series(dtype="int64"),
                    "hamming": pd.Series(dtype="int32"),
                }
            )
        return pd.DataFrame(
            {
                "ida": np.concatenate(out_a),
                "idb": np.concatenate(out_b),
                "hamming": np.concatenate(out_h),
            }
        )

    out = tasks.groupBy("_t").applyInPandas(
        _emit, "ida long, idb long, hamming int"
    )
    return out


def hamming_pairs(
    sig: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    num_bits: int = 64,
) -> DataFrame:
    """(ida, idb, hamming) pairs with Hamming(signature) <= max_hamming
    via band blocking sized by the pigeonhole bound: max_hamming+1 bands
    guarantee a pair within the Hamming budget agrees exactly on at least
    one band (fewer bands would silently lose recall). Candidates meet on
    an equi-join key, then bit_count(xor) verifies exactly. Shared by
    simhash_pairs (text) and multimodal.media_dup_pairs (bytes).

    Blocking runs on DISTINCT signatures: exact duplicates (the dominant
    duplicate mass in real corpora, and the adversarial case for banding —
    identical signatures share EVERY band) would otherwise multiply band
    groups quadratically in the duplication factor. Distinct-first makes
    the candidate join and verify independent of duplication (measured
    98s -> 8s at 16x replication, tools/scaling_probe_round6.py); the
    verified signature pairs then expand back to id pairs with plain
    equi-joins, and identical-signature groups pair within themselves at
    Hamming 0.

    Algorithm selection is COST-BASED (round 10): banding's candidate
    volume is the sum over (band, key) groups of c*(c-1)/2 — the static
    key width predicts it only for UNIFORM keys, and real signatures
    cluster (at sf3, radius 3 on 64 bits put 150x the uniform collision
    mass on hot keys: banding 219s vs blocked ~30s). So hamming_pairs
    runs one EAGER sizing pass at plan-construction time (the banded-key
    histogram over the persisted distinct signatures — an exception to
    the nothing-runs-until-an-action contract that is the plan choice
    itself, the AQE idea applied to algorithm selection) and routes to
    the fused blocked exact all-pairs popcount
    (_blocked_hamming_id_pairs — group, pair, verify and id-expand in
    ONE job) when the measured candidate volume costs more than D^2/2
    popcounts; key widths under _BAND_PAYS_OFF_BITS skip the probe and
    route straight to blocked (banding cannot pay there at any
    distribution — measured 189s -> 27s on the sf1 fixture at radius
    8/48 bits). The sizing count feeds a self-diagnosing warning
    (dedup.QUADRATIC_COMPARE_BUDGET) when even the blocked quadratic has
    been outgrown — then grow num_bits or shrink the radius so banding
    regains keyspace, or accept approximate recall via MinHash."""
    nb = max_hamming + 1
    if nb > num_bits:
        raise ValueError("max_hamming must be < num_bits")
    ids = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("_sig"))
    # distribute num_bits over nb bands as evenly as possible
    widths = [
        num_bits // nb + (1 if i < num_bits % nb else 0) for i in range(nb)
    ]
    if min(widths) < _BAND_PAYS_OFF_BITS:
        # wide radius on a short signature: the band keyspace is too small
        # to prune (see _BAND_PAYS_OFF_BITS) — route to the fused blocked
        # exact all-pairs popcount, which groups, pairs, verifies and
        # expands ids in one job (no expansion joins, no same-sig union)
        return _blocked_hamming_id_pairs(ids, max_hamming)
    dsig = ids.select("_sig").distinct()
    offsets = [sum(widths[:i]) for i in range(nb)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("_sig", offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("band_key"),
            )
            for i in range(nb)
        ]
    )
    # persisted BEFORE the routing probe: the probe, the candidate
    # join's two sides and the verify all branch from the distinct
    # signatures — unpersisted, the signature stage (for simhash, a
    # full Python pass over the corpus) would run for each consumer
    dsig = persist(dsig)
    bands = dsig.select(
        "_sig", F.explode(band_structs).alias("bd")
    ).select(
        "_sig",
        F.col("bd.band_idx").alias("band_idx"),
        F.col("bd.band_key").alias("band_key"),
    )
    # Skew-aware cost-based routing (one eager aggregation over the
    # cached distinct signatures — this IS the plan choice, the same
    # idea as AQE's runtime re-plan): banding's candidate volume is
    # sum over (band, key) groups of c*(c-1)/2, which the static key
    # width cannot predict because real signatures CLUSTER (at sf3,
    # radius 3 on 64 bits looks healthy — 16-bit keys — but the
    # corpus put 150x the uniform collision mass on hot keys:
    # banding 219s, blocked ~30s). Route to blocked when the
    # measured volume leaves banding's in-memory regime
    # (_BANDING_ROW_BUDGET) or stops genuinely pruning
    # (_BANDING_PRUNE_FACTOR); see the constants for calibration.
    # Memoized per analyzed input plan (_ROUTING_CACHE): a second
    # hamming_pairs over the same plan in one session re-uses the
    # measured (D, candidate volume) and runs NO probe job.
    mkey = _routing_key(dsig, num_bits, max_hamming)
    if mkey is not None and mkey in _ROUTING_CACHE:
        n, cand_est = _ROUTING_CACHE[mkey]
    else:
        probe = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.coalesce(
                    F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0.0)
                ).alias("p"),
                F.coalesce(F.sum("c"), F.lit(0)).alias("tot"),
            )
            .collect()[0]
        )
        cand_est = probe["p"]
        # every distinct signature posts exactly nb band rows, so the
        # histogram's row total carries D for free — one probe job,
        # not a separate count (it also materializes the persist)
        n = int(probe["tot"]) // nb
        if mkey is not None:
            if len(_ROUTING_CACHE) >= _ROUTING_CACHE_MAX:
                _ROUTING_CACHE.clear()
            _ROUTING_CACHE[mkey] = (n, cand_est)
    if (
        cand_est > _BANDING_ROW_BUDGET
        or cand_est > n * (n - 1) / 2 / _BANDING_PRUNE_FACTOR
    ):
        # n passed through: the histogram above already measured D, so the
        # fused blocked path runs no count job; it regroups from ids (its
        # own single groupBy shuffle) and emits id pairs in-task, so the
        # band-probe persist has no further consumer — release it now
        dsig.unpersist()
        return _blocked_hamming_id_pairs(ids, max_hamming, n=n)
    a = bands.select(
        F.col("_sig").alias("sha"), "band_idx", "band_key"
    )
    b = bands.select(
        F.col("_sig").alias("shb"), "band_idx", "band_key"
    )
    sig_pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("sha") < F.col("shb"))
        .select(
            "sha",
            "shb",
            F.expr("bit_count(sha ^ shb)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        sig_pairs.join(ids.select(F.col("id").alias("_ia"), F.col("_sig").alias("sha")), "sha")
        .join(ids.select(F.col("id").alias("_ib"), F.col("_sig").alias("shb")), "shb")
        .select(
            F.least("_ia", "_ib").alias("ida"),
            F.greatest("_ia", "_ib").alias("idb"),
            "hamming",
        )
    )
    same = (
        ids.select(F.col("id").alias("ida"), "_sig")
        .join(ids.select(F.col("id").alias("idb"), "_sig"), "_sig")
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb", F.lit(0).alias("hamming"))
    )
    return cross.unionByName(same)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming — see
    :func:`hamming_pairs` for the pigeonhole band-blocking design."""
    sig = simhash64(df, id_col, text_col, token_hash=token_hash)
    return hamming_pairs(sig, max_hamming, id_col=id_col, sig_col="simhash")


# --------------------------------------------------------------------------
# embedding near-dup (banded sign-LSH + exact verify)
# --------------------------------------------------------------------------


def _tune_sign_bands(threshold: float, target_miss: float = 1e-6) -> tuple[int, int]:
    """(rows_per_band, num_bands) so that a pair at cosine == threshold is
    missed by every band with probability <= target_miss.

    p = P(one bit agrees) = 1 - acos(threshold)/pi; a band of r bits matches
    with p^r; b bands all miss with (1 - p^r)^b. The join volume over
    near-orthogonal pairs scales with b * 0.5^r ~ (0.5/p)^r / p^r... larger
    r always shrinks it (random pairs collide with 0.5^r per band), at the
    cost of more bands for the same recall — r=8 is the sweet spot until
    the band count explodes for loose thresholds.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    r = 8 if p >= 0.6 else 4
    pb = p**r
    b = max(8, min(512, math.ceil(math.log(target_miss) / math.log(1.0 - pb))))
    return r, b


def embedding_lsh_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int = 8,
    num_bands: int = 354,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs from banded random-hyperplane LSH: vectors colliding
    on (band_idx, band_key) in any band are candidates. The join key is
    bounded (band_key < 2^rows_per_band per band), so the shuffle is an
    equi-join on a small key space — never an all-pairs crossJoin.

    The projections are computed vectorized (one Gaussian matmul per Arrow
    batch — the hyperplane matrix regenerates deterministically from the
    seed inside each worker, nothing is shipped): thousands of sign bits
    per vector cost one BLAS call instead of interpreted per-bit
    expression folds."""
    import numpy as np
    import pandas as pd

    r, b = rows_per_band, num_bands

    def _bands(batches):
        rng_cache: dict[int, np.ndarray] = {}
        pow2 = 2 ** np.arange(r - 1, -1, -1)
        for batch in batches:
            if not len(batch):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in batch[id_col + "_v"]]
            )
            dim = X.shape[1]
            if dim not in rng_cache:
                rng_cache[dim] = np.random.default_rng(seed).standard_normal(
                    (dim, r * b)
                )
            bits = (X @ rng_cache[dim]) > 0  # (n, r*b)
            keys = bits.reshape(len(X), b, r) @ pow2  # (n, b) ints
            n = len(X)
            yield pd.DataFrame(
                {
                    "id": np.repeat(batch[id_col].to_numpy(), b),
                    "band_idx": np.tile(np.arange(b), n),
                    "band_key": keys.reshape(-1),
                }
            )

    src = df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(id_col + "_v")
    )
    bd = src.mapInPandas(_bands, "id long, band_idx int, band_key long")
    a = bd.select(F.col("id").alias("ida"), "band_idx", "band_key")
    bb = bd.select(F.col("id").alias("idb"), "band_idx", "band_key")
    return (
        a.join(bb, ["band_idx", "band_key"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )


def blocked_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via distributed blocked matmul.

    Vectors are hash-assigned to ceil(N/block_size) blocks; each block packs
    its (ids, vectors) into one row (single shuffle), the upper-triangle
    block-pair join fans out nb*(nb+1)/2 tasks, and each task computes one
    A @ B.T gram block in numpy — BLAS throughput instead of a row-level
    crossJoin evaluating an interpreted expression per pair.

    All-pairs exact retrieval is inherently O(N^2) in comparisons at ANY
    threshold low enough that LSH admits most pairs (measured: sign-LSH
    tuned for 1e-6 miss at cosine 0.5 emits 72% of all pairs as candidates
    — the quadratic cost plus LSH overhead on top). This operator is that
    quadratic floor done at matrix speed; embedding_dup_pairs routes to it
    below the threshold where banding starts to pay.
    """
    import math

    import numpy as np
    import pandas as pd

    n = df.count()
    _quadratic_guard(
        n,
        "blocked_cosine_pairs",
        "raise the threshold so embedding_dup_pairs routes to sign-LSH "
        "banding, or use similarity.ann_* (IVF / PQ) for top-k retrieval "
        "instead of all-pairs",
    )
    nb = max(1, math.ceil(n / block_size))
    packed = (
        df.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("_b"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
        )
        .groupBy("_b")
        .agg(
            F.collect_list("_id").alias("ids"),
            F.collect_list("_v").alias("vecs"),
        )
    )
    # Enumerate the upper-triangle block pairs distributively — each bx row
    # of a range explodes sequence(bx, nb-1) into its by partners (a narrow
    # Generate, no join, no O(nb^2) driver list) — so both packed sides
    # attach via EQUI-joins: no nested-loop join anywhere; AQE broadcasts
    # the packed side while it fits and falls back to hash joins keyed on
    # the block id beyond that.
    block_pairs = (
        df.sparkSession.range(nb)
        .select(
            F.col("id").alias("bx"),
            F.explode(F.sequence(F.col("id"), F.lit(nb - 1))).alias("by"),
        )
    )
    joined = (
        block_pairs.join(
            packed.select(
                F.col("_b").alias("bx"),
                F.col("ids").alias("ids_x"),
                F.col("vecs").alias("vecs_x"),
            ),
            "bx",
        )
        .join(
            packed.select(
                F.col("_b").alias("by"),
                F.col("ids").alias("ids_y"),
                F.col("vecs").alias("vecs_y"),
            ),
            "by",
        )
        # spread the nb*(nb+1)/2 block pairs across the cluster; without
        # this the join output inherits packed's partitioning and a few
        # tasks own every gram block
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # 5e-5 slack: sims are rounded to 4 decimals downstream, so keep pairs
    # whose unrounded sim could still round up past the threshold.
    thr = threshold - 5e-5

    def _gram(batches):
        for batch in batches:
            for row in batch.itertuples(index=False):
                ia = np.asarray(row.ids_x, dtype=np.int64)
                ib = np.asarray(row.ids_y, dtype=np.int64)
                A = np.stack([np.asarray(v, dtype=np.float64) for v in row.vecs_x])
                B = np.stack([np.asarray(v, dtype=np.float64) for v in row.vecs_y])
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                B /= np.linalg.norm(B, axis=1, keepdims=True)
                S = A @ B.T
                mask = S >= thr
                if row.bx == row.by:
                    # diagonal block: upper triangle only
                    mask &= ia[:, None] < ib[None, :]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    left, right = ia[ii], ib[jj]
                    # off-diagonal blocks see each unordered pair exactly
                    # once (the join keeps bx <= by), in arbitrary id
                    # orientation — canonicalize instead of filtering
                    yield pd.DataFrame(
                        {
                            "ida": np.minimum(left, right),
                            "idb": np.maximum(left, right),
                            "sim": S[ii, jj],
                        }
                    )

    return joined.mapInPandas(_gram, "ida long, idb long, sim double").select(
        "ida", "idb", F.round("sim", 4).alias("sim")
    ).filter(F.col("sim") >= threshold)


# Below this cosine threshold, tuned sign-LSH admits most pairs anyway
# (the candidate set is effectively all-pairs), so the blocked exact path
# is strictly faster; above it the banding prunes hard and LSH wins.
_LSH_PAYS_OFF_AT = 0.8


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_band: int | None = None,
    num_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with cosine >= threshold (exact sims, exact
    recall).

    Algorithm selection by operating point:
    - threshold >= 0.8 (the near-dup regime): banded sign-LSH candidates
      (equi-join on bounded band keys, auto-tuned so a threshold-boundary
      pair is missed with probability <= 1e-6), then exact vectorized
      cosine verification — linear scans plus a bounded-key shuffle.
    - threshold < 0.8: LSH tuned for certain recall admits most pairs as
      candidates (measured 72% at 0.5), so the quadratic comparison floor
      is unavoidable — route to blocked_cosine_pairs, which pays it at
      BLAS speed with block-level (not row-level) data movement.
    Explicit rows_per_band/num_bands force the LSH path.
    """
    if rows_per_band is None and num_bands is None and threshold < _LSH_PAYS_OFF_AT:
        return blocked_cosine_pairs(df, threshold, id_col, vec_col)
    if rows_per_band is None or num_bands is None:
        r, b = _tune_sign_bands(threshold)
        rows_per_band = rows_per_band or r
        num_bands = num_bands or b
    cand = embedding_lsh_candidates(df, id_col, vec_col, rows_per_band, num_bands)
    va = df.select(F.col(id_col).alias("ida"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("idb"), F.col(vec_col).alias("_vb"))
    joined = cand.join(va, "ida").join(vb, "idb")

    # Vectorized verify: one numpy matmul row-block per Arrow batch instead
    # of an interpreted per-pair expression fold — ~10x on wide candidate
    # sets (low thresholds make candidates dense; the verify is the cost).
    import numpy as np
    import pandas as pd

    def _cos_batches(batches):
        for b in batches:
            if not len(b):
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in b["_va"]])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in b["_vb"]])
            dots = np.einsum("ij,ij->i", A, B)
            na = np.sqrt(np.einsum("ij,ij->i", A, A))
            nb = np.sqrt(np.einsum("ij,ij->i", B, B))
            yield pd.DataFrame(
                {"ida": b["ida"], "idb": b["idb"], "sim": dots / (na * nb)}
            )

    raw = joined.mapInPandas(_cos_batches, "ida long, idb long, sim double")
    return raw.select(
        "ida", "idb", F.round("sim", 4).alias("sim")
    ).filter(F.col("sim") >= threshold)


def semdedup(
    df: DataFrame,
    eps: float = 0.9,
    num_clusters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings with spherical k-means, then — WITHIN each
    cluster, scanning members in ascending id order — dropping every vector
    whose max cosine to ANY earlier member (kept or dropped, the paper's
    upper-triangular rule) is >= eps. Returns the kept rows as
    (id_col, cluster).

    Scale design (the point of clustering first): the quadratic comparison
    never crosses a cluster boundary. The quantizer trains driver-side on a
    bounded sample (centroids, not the fit set, define the partition — see
    ivf_topk); ONE Arrow-batched matmul pass assigns cluster ids; then each
    cluster dedups independently inside applyInPandas with a BLOCKED
    triangular gram (O(block^2) memory, not O(m^2)), so the per-task cost
    is (N/k)^2 with k chosen to bound cluster size — at 100 TB you pick
    k ~ N/20k and the heaviest task touches ~20k vectors. Mirrors the
    reference's dedup-by-content semantics (fireworks/toolbox) lifted to
    embedding space.

    ``centroids`` (optional, list of dim-length vectors) injects a
    deterministic quantizer in place of the learned spherical k-means —
    the same injection shape as similarity.ivf_topk, which makes the
    cluster assignment (and hence the whole kept set) SQL-derivable so the
    correctness driver can value-check the prune end-to-end. Assignment is
    by cosine (centroids are normalized here; rows are normalized in the
    assign pass), ties to the lowest centroid index."""
    import numpy as np

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    else:
        from fireworks_spark.operators.similarity import _spherical_kmeans

        sample = np.stack(
            [
                np.asarray(r[0], dtype=np.float64)
                for r in df.select(vec_col).limit(100_000).collect()
            ]
        )
        C = _spherical_kmeans(sample, num_clusters, seed)

    import pandas as pd

    def _assign(batches):
        for b in batches:
            if not len(b):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in b["nv"]])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            # 4-decimal cosines (the repo's cross-engine convention, q34):
            # keeps the argmax — and hence every cluster id — reproducible
            # by a SQL oracle rounding the same way, instead of hinging on
            # a raw-double near-tie between centroids (the q149 r6 class)
            yield pd.DataFrame(
                {
                    "nid": b["nid"],
                    "nv": b["nv"],
                    "pt": np.argmax(
                        np.round(Xn @ C.T, 4), axis=1
                    ).astype(np.int32),
                }
            )

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("nid").reset_index(drop=True)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        n = len(Xn)
        drop = np.zeros(n, dtype=bool)
        B = 2048
        for js in range(0, n, B):
            je = min(js + B, n)
            colmax = np.full(je - js, -np.inf)
            for is_ in range(0, je, B):
                ie = min(is_ + B, je)
                # 4-decimal cosines before the eps compare (same rationale
                # as the assignment rounding above): a raw cosine within
                # 1e-15 of eps must prune identically in every engine
                G = np.round(Xn[is_:ie] @ Xn[js:je].T, 4)
                # mask pairs where row index >= column index (triangular)
                i_idx = np.arange(is_, ie)[:, None]
                j_idx = np.arange(js, je)[None, :]
                G = np.where(i_idx < j_idx, G, -np.inf)
                colmax = np.maximum(colmax, G.max(axis=0))
            drop[js:je] = colmax >= eps
        return pdf.loc[~drop, ["nid", "pt"]]

    vec_type = dict(df.dtypes)[vec_col]
    assigned = df.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    ).mapInPandas(_assign, f"nid long, nv {vec_type}, pt int")
    kept = assigned.groupBy("pt").applyInPandas(_prune, "nid long, pt int")
    return kept.select(
        F.col("nid").alias(id_col), F.col("pt").alias("cluster")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing at
    least one word n-gram with any benchmark document (the standard
    eval-set overlap removal before pre-training).

    The benchmark side (eval sets are small by nature) reduces to a
    distinct hashed-shingle set and is BROADCAST; the corpus streams
    map-side through (1) a semi-join of its exploded shingles against the
    broadcast set -> tainted ids, then (2) an anti-join of the corpus
    against that (small) taint list. The corpus never shuffles.
    """
    bench_sh = F.broadcast(
        shingle_table(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    tainted = (
        shingle_table(corpus, id_col, text_col, n)
        .join(bench_sh, "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(tainted, id_col, "left_anti")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    threshold: float = 0.8,
) -> DataFrame:
    """GRADED benchmark-overlap report — the GPT-3/PaLM-style n-gram
    contamination rule ("a doc is contaminated when a high fraction of
    its n-grams appear in the eval set"), where :func:`decontaminate` is
    the binary any-overlap version. Per corpus document: its distinct
    n-gram count, the fraction present in the benchmark's shingle set,
    and the verdict at ``threshold``. Documents too short to have any
    n-gram report 0.0 / false.

    Returns (id_col, n_shingles, overlap_frac, contaminated).

    Scale shape is decontaminate's: the benchmark reduces to a distinct
    broadcast shingle set, the corpus's exploded shingles stream through
    a map-side broadcast LEFT join marking hits, and the only shuffle is
    the per-document count aggregate (partial map-side)."""
    bench_sh = F.broadcast(
        shingle_table(benchmark, id_col, text_col, n)
        .select("shingle", F.lit(True).alias("_hit"))
        .distinct()
    )
    per_doc = (
        shingle_table(corpus, id_col, text_col, n)
        .join(bench_sh, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            (
                pround(
                    F.avg(F.when(F.col("_hit"), 1.0).otherwise(0.0)), 4
                )
                + F.lit(0.0)
            ).alias("overlap_frac"),
        )
    )
    return (
        corpus.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("overlap_frac", F.lit(0.0)).alias("overlap_frac"),
            (F.coalesce("overlap_frac", F.lit(0.0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (prefilter + exact verify)
# --------------------------------------------------------------------------


def bloom_bitset(
    df: DataFrame,
    col: str,
    num_bits: int = 1 << 17,
    k: int = 5,
) -> list[int]:
    """Build a Bloom-filter bitset over a column, distributively.

    Each value sets ``k`` bit positions ``xxhash64(value, seed) mod
    num_bits`` (seed = 0..k-1). Partial per-task BIT_OR aggregation means
    the shuffle moves at most ``num_bits/64`` rows per map task regardless
    of input size; the driver collects the final ``num_bits/64`` longs
    (16 KiB at the default m=2^17) — bounded state, mergeable, one pass.

    Returns a dense Python list of ``num_bits // 64`` signed longs suitable
    for :func:`bloom_might_contain`.
    """
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    seeds = F.explode(F.array(*[F.lit(s) for s in range(k)])).alias("_seed")
    pos = F.pmod(F.xxhash64(F.col(col), F.col("_seed")), F.lit(num_bits))
    words_df = (
        df.select(F.col(col)).where(F.col(col).isNotNull())
        .select(F.col(col), seeds)
        .select(pos.alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("_word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))"
            ).alias("_mask"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_mask").alias("_bits"))
    )
    dense = [0] * (num_bits // 64)
    for r in words_df.collect():  # bounded: <= num_bits/64 rows
        dense[r["_word"]] = r["_bits"]
    return dense


_BLOOM_BROADCASTS: dict = {}


def release_bloom_broadcasts() -> None:
    """Destroy every bitset broadcast cached by :func:`bloom_might_contain`
    above its literal threshold (the release path mirroring
    :func:`release_caches`). Call once the probing queries are
    materialized; subsequent probes simply re-broadcast."""
    for key, bc in _BLOOM_BROADCASTS.items():
        try:
            bc.destroy()
        except Exception:
            _log.warning(
                "bloom broadcast %s: destroy() failed", key, exc_info=True
            )
    _BLOOM_BROADCASTS.clear()


def bloom_probe_expr(
    col: Column, words_arr: Column, num_bits: int, k: int = 5
) -> Column:
    """The Bloom bit-test itself, over a bitset that is ALREADY a Column
    of array<bigint> — a folded literal (bloom_might_contain's small
    path) or an attribute (streaming decontamination joins the bitset in
    as a broadcast 1-row frame, since micro-batch planning does not
    constant-fold large literals). ONE definition of the seed count and
    word/mask layout, shared with bloom_bitset's build side — keep k and
    the layout in lockstep or probes silently return false negatives."""
    cond = F.lit(True)
    for s in range(k):
        pos = F.pmod(F.xxhash64(col, F.lit(s)), F.lit(num_bits))
        word = F.element_at(words_arr, (pos / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_might_contain(
    col: Column | str,
    bitset: list[int],
    k: int = 5,
    literal_max_bytes: int = 16 << 20,
) -> Column:
    """Membership probe against a :func:`bloom_bitset` result.

    Default path (bitset <= ``literal_max_bytes``, 16 MiB): pure JVM — the
    bitset ships inside the plan as a literal long array (16 KiB at the
    default size), no join, no shuffle, no Python: the probe is ``k`` bit
    tests evaluated in whole-stage codegen at scan speed.

    Above the threshold a plan-embedded Literal would bloat every task's
    serialized plan, so the words ship ONCE per executor as a broadcast
    variable instead: the ``k`` positions are still computed JVM-side
    (xxhash64 — bit-identical to the build side), and only the word lookup
    runs in an Arrow-batched vectorized pandas UDF. Same semantics either
    way: false positives at the configured rate, false negatives never,
    which is what makes the prefilter + exact-verify composition exact.
    """
    col = F.col(col) if isinstance(col, str) else col
    num_bits = len(bitset) * 64
    if len(bitset) * 8 <= literal_max_bytes:
        # F.lit(list) -> one array Literal, evaluated once; F.array(*lits)
        # would re-CreateArray 2048 elements per row per seed (measured 9x).
        return bloom_probe_expr(col, F.lit(list(bitset)), num_bits, k)

    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    # one broadcast per (context, bitset content) — repeated probes of the
    # same filter (threshold sweeps, interactive sessions) reuse it instead
    # of accumulating executor copies; release_bloom_broadcasts() is the
    # release handle, mirroring release_caches for persisted frames
    arr = np.asarray(bitset, dtype=np.int64)
    sc = SparkSession.getActiveSession().sparkContext
    key = (sc.applicationId, hashlib.sha1(arr.tobytes()).digest())
    bc = _BLOOM_BROADCASTS.get(key)
    if bc is None:
        bc = sc.broadcast(arr.view(np.uint64))
        _BLOOM_BROADCASTS[key] = bc

    def _probe_fn(pos):
        if not len(pos):
            return pd.Series([], dtype=bool)
        words = bc.value
        P = np.stack([np.asarray(p, dtype=np.int64) for p in pos])
        hit = (words[P >> 6] >> (P & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    # real class objects (module-level `from __future__ import annotations`
    # would stringify inline hints and break pandas_udf type inference)
    _probe_fn.__annotations__ = {"pos": pd.Series, "return": pd.Series}
    _probe = F.pandas_udf(_probe_fn, "boolean")

    positions = F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(s)), F.lit(num_bits))
            for s in range(k)
        ]
    )
    return _probe(positions)


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_bits: int = 1 << 17,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter before the exact
    verify — the 100 TB shape of :func:`decontaminate`.

    ``decontaminate`` broadcasts the full distinct benchmark shingle set;
    fine for eval sets, but the broadcast grows with the benchmark (8 bytes
    x distinct shingles) and every corpus shingle pays a hash-set probe.
    Here the benchmark compresses to a fixed-size Bloom bitset (16 KiB at
    the default m=2^17, built distributively by :func:`bloom_bitset`), the
    corpus probes it as a whole-stage-codegen filter AT THE SCAN (no join,
    no shuffle — typically >99% of shingles drop in the map stage), and
    only the tiny surviving fraction reaches the exact broadcast semi-join
    verify. Because a Bloom filter has no false negatives, the composition
    returns exactly what ``decontaminate`` returns: false positives from
    the prefilter are killed by the verify, misses were true negatives.

    Result: the corpus rows sharing no word n-gram with the benchmark
    (reference parity: eval-overlap removal; cf. decontaminate above).
    """
    # Persisted: the bitset build and the exact verify both consume the
    # benchmark shingles; without the persist the benchmark tokenizes
    # twice.
    bench_sh = persist(
        shingle_table(benchmark, id_col, text_col, n)
        .select("shingle")
    )
    bits = bloom_bitset(bench_sh, "shingle", num_bits=num_bits, k=k)
    candidates = shingle_table(corpus, id_col, text_col, n).where(
        bloom_might_contain("shingle", bits, k=k)
    )
    tainted = (
        candidates.join(
            F.broadcast(bench_sh.distinct()), "shingle", "left_semi"
        )
        .select(id_col)
        .distinct()
    )
    out = corpus.join(tainted, id_col, "left_anti")
    return out


# --------------------------------------------------------------------------
# cluster + canonicalize (the final step of a real dedup pipeline)
# --------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    a: str = "ida",
    b: str = "idb",
    max_iter: int = 25,
    local_edge_limit: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected dup-pair edge list ->
    (id, cluster) where cluster = the minimum id in the component.

    Two regimes, picked by the materialized pair count (2x pairs vs
    ``local_edge_limit``, i.e. the directed-edge bound the propagation
    regime would see; duplicate pairs count conservatively toward the
    limit):
    - small: driver-side union-find over the collected pair list
      (direction- and duplicate-insensitive, so the pairs are collected
      raw — no explode/distinct shuffle). A dedup pair graph is tiny relative to its
      corpus (it is the OUTPUT of dedup, bounded by the duplicate rate) —
      a million edges is ~16 MB on the driver, and union-find beats any
      number of distributed rounds of scheduler latency.
    - larger graphs: iterative min-label propagation — each round joins
      labels to edges and takes the neighborhood minimum, stopping when no
      label changes. Rounds = graph diameter; near-dup graphs are dense
      clumps (almost cliques), so a handful of rounds suffices. Every
      round persists its frontier and unpersists the previous one; each
      round is a single shuffle join keyed on the id. For adversarial
      long-chain graphs swap in large-star/small-star (O(log n) rounds,
      same join shape) — not needed for dedup workloads.
    """
    # The undirected pair list is materialized ONCE (persist + count); the
    # union-find regime collects it AS-IS — union-find is insensitive to
    # edge direction and duplicate edges, so the explode-to-both-directions
    # + distinct shuffle the label-propagation regime needs is skipped
    # entirely on the common (small-graph) path (one less Exchange per
    # q42/q43/q115-class query, r15). The distributed regime builds its
    # directed distinct edge set from the SAME persisted frame, so the
    # pairs lineage (the dominant cost for jaccard/minhash sources) still
    # executes exactly once either way.
    p = persist(pairs.select(a, b))
    n_pairs = p.count()  # materializes the persisted pair list
    if 2 * n_pairs <= local_edge_limit:
        edges = p.collect()
        p.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in edges:
            s, d = r[a], r[b]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN root so the label is the component minimum
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        out = pairs.sparkSession.createDataFrame(
            rows, "id long, cluster long"
        )
        return out
    # Distributed regime: both edge directions from ONE scan of the
    # persisted pair list (explode, not union — union's two branches would
    # each re-scan it), deduped once, then iterated over.
    e = persist(
        p.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                    F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    labels = persist(
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
    )
    # Convergence check: labels only ever DECREASE under min-propagation,
    # so sum(labels) strictly decreases until the fixpoint — comparing two
    # driver-side scalars replaces a per-round join+filter change scan.
    # decimal(38,0) keeps the sum exact at any id range / row count.
    prev_sum = labels.agg(
        F.sum(F.col("cluster").cast("decimal(38,0)"))
    ).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            e.join(labels, e.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("_nmin"))
            .withColumnRenamed("src", "id")
        )
        new = persist(
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("_nmin", "cluster")
                ).alias("cluster"),
            )
        )
        new_sum = new.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels.unpersist()
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    e.unpersist()
    p.unpersist()
    return labels



def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Assign train/eval splits so near-duplicates NEVER straddle a split
    boundary — the dedup-aware evaluation hygiene step (a test doc with a
    training-set near-twin silently inflates eval scores).

    Split is a function of the doc's dup-cluster anchor (the component's
    minimum id from dup_clusters), falling back to the doc's own id for
    singletons: every member of a cluster shares the anchor, hence the
    split, by construction. Deterministic integer arithmetic (anchor mod
    k) so any engine reproduces the assignment.

    Scale: one connected-components pass over the PAIR graph (bounded by
    dup density, not corpus size) + one id-keyed left join back to the
    corpus — the same cost class as computing the clusters at all.
    """
    clusters = dup_clusters(pairs).withColumnRenamed("id", id_col)
    return (
        df.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.pmod(F.coalesce("cluster", F.col(id_col)), F.lit(k))
            .cast("long")
            .alias(split_col),
        )
    )

def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "ida",
    b: str = "idb",
) -> DataFrame:
    """Drop every duplicate except the minimum-id member of each dup
    cluster (rows in no pair survive untouched): cluster the pair graph,
    then anti-join the non-canonical ids — the corpus itself never
    shuffles, it only streams past a (small) drop list."""
    clusters = dup_clusters(pairs, a, b)
    drop = clusters.filter(F.col("cluster") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
) -> DataFrame:
    """Corpus-level line dedup (the C4/CCNet boilerplate filter): across the
    WHOLE corpus, every distinct line survives exactly once — in the document
    where it first appears, ordered by (id, line position) — and every later
    copy (including repeats inside one document) is dropped. Documents are
    then reassembled from their surviving lines; a document whose every line
    was seen earlier comes back as the empty string.

    Scale plan (no skewed task anywhere, by construction):
    1. posexplode lines — narrow.
    2. first occurrence per line via groupBy(line).agg(min(struct(id, pos)))
       — a hot boilerplate line with 10^8 copies is collapsed map-side by
       partial aggregation before the shuffle, so the reduce task for that
       line receives one partial row per map task, not 10^8 rows.
    3. keep = lines ⋈ keepers on (id, pos) ONLY — the winning (id, pos)
       uniquely determines its line (one line per position), so the raw
       line text is redundant in the join key: the keeper side ships two
       longs per distinct line instead of the line text (≈1/3 less
       shuffle for a mostly-unique corpus, and long-string key hashing/
       comparison becomes two-long hashing). BOTH sides are unique per
       (id, pos), so the shuffled join has no hot key: the copies of a
       boilerplate line spread across (id, pos) values that simply find
       no match.
    4. reassemble with sort_array(collect_list(struct(pos, line))) grouped by
       id, then left-join the original frame so fully-deduped documents
       survive with text = ''.

    Returns (id_col, text_col deduped, n_kept) — one row per input row.
    """
    # Persisted: the exploded lines feed BOTH the first-occurrence agg and
    # the keep-join's left side — unpersisted, the upstream lineation and
    # explode run twice.
    lines = persist(
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias(
                "pos", "line"
            ),
        )
    )
    keepers = (
        lines.groupBy("line")
        .agg(F.min(F.struct(id_col, "pos")).alias("first"))
        .select(
            F.col("first")[id_col].alias("k_id"),
            F.col("first")["pos"].alias("k_pos"),
        )
    )
    kept = lines.join(
        keepers,
        (F.col(id_col) == F.col("k_id")) & (F.col("pos") == F.col("k_pos")),
    ).select(id_col, "pos", "line")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("_kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("_kept_text", F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def minhash_signatures_rowwise(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """Shuffle-FREE minhash: each of the k mins is array_min over a
    transform of the per-doc shingle array — a narrow projection, no
    explode/groupBy. Produces bit-identical signatures to
    minhash_signatures (same xxhash64(k, shingle) family over the same
    distinct-shingle sets). Because it is pure projection it is also
    STREAMING-safe (no aggregation state) — near_dedup_stream builds on it.
    The shingle array is materialized by shingle_sets' projection first, so
    the tokenizer runs once per doc, not once per (doc, hash)."""
    sets = shingle_sets(df, id_col, text_col, n)
    # SQL strings, not a Column-building loop: each F.xxhash64/F.transform/
    # F.array_min call is a py4j round-trip, and k of them per hash made
    # CONSTRUCTING this projection cost ~0.45s at k=32 — comparable to
    # executing it at sf0.1 (measured r15; the selectExpr form is ~0.13s,
    # one py4j call, JVM-side parse). The parsed expressions are the exact
    # DSL equivalents: xxhash64(<int literal k>, shingle) under array_min,
    # so signatures stay bit-identical (asserted by test_dedup's
    # rowwise-vs-groupBy parity and the portable-hash tests).
    sig = [
        f"array_min(transform(shingles, s -> xxhash64({k}, s))) AS h{k}"
        for k in range(num_hashes)
    ]
    # backtick-quote the interpolated identifier (ADVICE r15): an id
    # column needing quoting (spaces, dots, reserved words) parsed fine
    # under the old F.col path and must keep doing so under selectExpr.
    qid = "`" + id_col.replace("`", "``") + "`"
    return sets.selectExpr(qid, *sig)


def substring_dedup(
    df: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_hash: bool = True,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022, arXiv:2107.06499 — the
    companion to :func:`chunk_dup_stats`, which only measures): delete
    from every document each token covered by a ``k``-token window whose
    exact text occurs EARLIER in corpus order (earlier (id, position), so
    exactly one occurrence of every duplicated span survives — the
    suffix-array dedup's keep-first policy at token-window granularity).
    Overlapping duplicated windows merge into maximal removed spans
    automatically because coverage is per-position. Documents shorter than
    ``k`` tokens are untouched. Text is compared and reassembled in
    normalized form (lower/trim/single-space — functions.text.words), the
    corpus-dedup convention shared with line_dedup.

    Returns (id_col, text — deduped, n_removed — tokens dropped).

    Scale (vs the paper's suffix array, which needs a global sorted
    structure): window enumeration is a pure generate stage — stride-1
    windows cost k hashed tokens per input token, all inside whole-stage
    codegen before anything moves; only the narrow (key, id, pos) table
    shuffles (one hash per window with ``use_hash``, 8-byte keys). First
    occurrences come from one min-struct aggregate on the window key
    (partial map-side: a viral boilerplate span arrives pre-collapsed per
    task); coverage explodes redundant occurrences back to k positions
    and anti-joins the token table; reassembly is one groupBy(id) sort of
    kept (pos, token) pairs — shuffle bounded by surviving tokens.
    ``use_hash=False`` keys on the window text itself (what the SQL
    oracle can re-derive; the hash path risks one 64-bit collision per
    ~1e19 window pairs — tests assert both paths agree)."""
    toks = _spread(df).select(
        F.col(id_col).alias("_id"), words(text_col).alias("_w")
    )
    n = F.size("_w")
    starts = F.when(
        n >= k, F.sequence(F.lit(0), n - k)
    ).otherwise(F.array().cast("array<int>"))
    win = F.array_join(F.slice("_w", F.col("_p") + 1, k), " ")
    # persisted: occ feeds both the first-occurrence aggregate and the
    # redundant-occurrence join, so unpersisted the stride-1 window
    # enumeration (k-token slice+join per input token, the dominant CPU
    # term) executes twice. A/B at sf1 (tools/probe_q145_persist.py,
    # alternating pairs, one session): recompute 4.53s min / 4.90s med vs
    # persist 3.89s / 4.08s (-14%); same direction at sf0.1 (2.40/3.07 vs
    # 2.32/2.64). MEMORY_AND_DISK default keeps the at-scale risk bounded
    # (the table is ~k x corpus tokens; spill beats re-enumeration since
    # generation is compute-bound, guide §5).
    occ = persist(
        toks.select("_id", "_w", F.explode(starts).alias("_p"))
        .select(
            "_id",
            "_p",
            (F.xxhash64(win) if use_hash else win).alias("_key"),
        )
    )
    firsts = occ.groupBy("_key").agg(
        F.min(F.struct(F.col("_id"), F.col("_p"))).alias("_f"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    redundant = (
        occ.join(firsts.filter(F.col("_cnt") >= 2), "_key")
        .filter(
            (F.col("_id") != F.col("_f._id")) | (F.col("_p") != F.col("_f._p"))
        )
        .select("_id", "_p")
    )
    covered = redundant.select(
        "_id", F.explode(F.sequence(F.col("_p"), F.col("_p") + k - 1)).alias("_pos")
    ).distinct()
    tokpos = toks.select("_id", F.posexplode("_w").alias("_pos", "_tok"))
    kept = tokpos.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_tok")))
                ),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    sizes = toks.select("_id", n.alias("_n"))
    out = (
        sizes.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            (F.col("_n") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return out


def chunk_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 20,
    overlap: int = 10,
) -> DataFrame:
    """Chunk-level exact-duplicate contamination — the ExactSubstr signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) at token-window granularity: the fraction of
    each document's full-length token windows that appear verbatim in at
    least one OTHER document. Overlapping windows (stride = size - overlap)
    catch duplicated spans that cross aligned-chunk boundaries. Documents
    shorter than ``size`` tokens have no full window and are absent.

    Returns (id_col, n_chunks, dup_chunk_frac).

    Scale: the windowing is a pure generate stage; the distinct (chunk,
    doc) projection collapses intra-doc repeats map-side; the doc-count agg
    shuffles on the chunk key with partial aggregation (a viral boilerplate
    chunk arrives as one partial row per map task); the join back has one
    frequency row per chunk, so no hot key.
    """
    from fireworks_spark.operators.ranking import chunk_tokens

    ch = chunk_tokens(df, id_col, text_col, size, overlap).filter(
        F.col("n_tokens") == size
    )
    docs_per = (
        ch.select(id_col, "chunk")
        .distinct()
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    return (
        ch.join(docs_per, "chunk")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            (
                pround(
                    F.avg(F.when(F.col("nd") >= 2, 1.0).otherwise(0.0)), 4
                )
                + F.lit(0.0)
            ).alias("dup_chunk_frac"),
        )
    )
