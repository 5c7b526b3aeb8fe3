"""Term-weighting, retrieval scoring, chunking and repetition statistics
over a document corpus — the text-ranking slice of a training-data pipeline
(reference analog: the tokenize/vocab utilities in fireworks/utils/text.py
plus the quality-filter role its preprocessing pipes play; rewritten here as
Catalyst expression pipelines).

Scale notes (100 TB):
- ``tf_idf``: one explode + two hash aggregations. The (doc, term) agg
  shuffles on the composite key; the document-frequency agg shuffles on
  term only, and its output — |vocab| rows, orders of magnitude smaller
  than the corpus — is joined back on term. No driver-side state except
  the corpus row count (one scalar).
- ``bm25_topk``: query terms are filtered BEFORE the first aggregation, so
  only matching postings move through the shuffles; corpus-level scalars
  (N, avgdl) ride along via a broadcast single-row crossJoin, keeping the
  whole plan lazy.
- ``chunk_tokens``: pure per-row generate (sequence + posexplode) — a map
  stage, no shuffle. Output size = input tokens / stride, the natural
  fan-out of chunking.
- ``repetition_stats``: fully per-row (sorted-array fold for the bigram
  mode) — zero shuffles at any scale.
- every entry point guards against under-partitioned small-file inputs
  with operators.spread (no-op at real scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fireworks_spark.functions.rounding import pround
from fireworks_spark.operators.spread import spread
from fireworks_spark.session import persist

__all__ = [
    "tokens",
    "tf_idf",
    "bm25_topk",
    "chunk_tokens",
    "repetition_stats",
    "rrf_fuse",
]


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a text column (single-space convention of the
    documents fixture; empty strings dropped so '' rows yield [])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: t != "")


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Per-(document, term) TF-IDF weights.

    idf = ln(N / df) with df = number of documents containing the term
    (raw variant — matches the textbook definition DuckDB can replicate
    exactly). Terms with document frequency below ``min_df`` are dropped.

    Returns (id_col, term, tf, df, tfidf).
    """
    df = spread(df)
    n_docs = df.count()  # one scalar action; the corpus itself stays lazy
    tok = df.select(id_col, F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return (
        tf.join(dfreq, "term")
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Okapi BM25 document scores for a bag-of-words query; top-k docs.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (Lucene's non-negative
    variant). Scoring touches only postings of the query terms — the
    ``isin`` filter runs before any shuffle, so corpus-scale cost is the
    token scan, not the aggregation.

    Returns (id_col, score) — top k by score desc, id asc tiebreak.
    """
    w = tokens(text_col)
    base = spread(df).select(id_col, F.explode(w).alias("term"), F.size(w).alias("dl"))
    # Corpus scalars as a broadcast 1-row frame: keeps the plan fully lazy.
    stats = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens(text_col))).alias("avgdl"),
    )
    postings = (
        base.filter(F.col("term").isin(query_terms))
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rrf_k: int = 60,
    k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    several top-k lists: score(d) = sum over lists of 1 / (rrf_k + rank_d)
    — the standard way to combine lexical (BM25) and vector retrieval
    without score calibration, since only ranks enter the sum.

    Each input is an (id, score) frame; its rank is row_number by (score
    desc, id). The global windows here are safe BY CONTRACT: inputs are
    top-k candidate lists (each already bounded by its own k), not corpora
    — fusing bounded lists is a driver-light, single-stage op no matter
    the corpus size behind them. Returns (id, rrf, rk), top k by fused
    score with id tie-break.
    """
    from functools import reduce

    from pyspark.sql import Window

    parts = []
    for df in rankings:
        score_col = [c for c in df.columns if c != id_col][0]
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        parts.append(
            df.select(F.col(id_col), F.row_number().over(w).alias("r"))
        )
    u = reduce(lambda a, b: a.unionByName(b), parts)
    fused = u.groupBy(id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(rrf_k) + F.col("r"))), round_to
        ).alias("rrf")
    )
    w2 = Window.orderBy(F.desc("rrf"), F.col(id_col))
    return (
        fused.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(id_col, "rrf", "rk")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    per-document log importance = sum over token occurrences of
    ln p_target(tok) - ln p_raw(tok), where both unigram LMs are add-k
    smoothed over the RAW corpus vocabulary (target tokens outside it are
    ignored — the hashed-feature analog). Documents scoring high look like
    the target distribution; used to resample a raw crawl toward a
    high-quality corpus before pre-training. Returns (id_col, dsir_logw).

    Scale: two token aggregations (map-side-combined shuffles on token),
    one |vocab|-row log-ratio table joined back on token, one per-doc agg.
    Corpus scalars (totals, vocab size) ride along via a broadcast
    single-row crossJoin so the plan stays lazy end-to-end; no driver
    state.
    """
    raw = spread(raw)
    rtok = raw.select(id_col, F.explode(tokens(text_col)).alias("tok"))
    ttok = spread(target).select(F.explode(tokens(text_col)).alias("tok"))
    rc = rtok.groupBy("tok").agg(F.count(F.lit(1)).alias("rc"))
    tc = ttok.groupBy("tok").agg(F.count(F.lit(1)).alias("tc"))
    totals = rc.agg(
        F.sum("rc").alias("tr"), F.count(F.lit(1)).alias("v")
    ).crossJoin(tc.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("tt")))
    lr = (
        rc.join(tc, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            (
                F.log(
                    (F.coalesce("tc", F.lit(0)) + F.lit(k))
                    / (F.col("tt") + F.lit(k) * F.col("v"))
                )
                - F.log(
                    (F.col("rc") + F.lit(k))
                    / (F.col("tr") + F.lit(k) * F.col("v"))
                )
            ).alias("lr"),
        )
    )
    per_doc = rtok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_doc.join(lr, "tok")
        .groupBy(id_col)
        .agg(
            (F.round(F.sum(F.col("cnt") * F.col("lr")), 4) + F.lit(0.0)).alias(
                "dsir_logw"
            )
        )
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into token windows of ``size`` tokens with
    ``overlap`` tokens shared between consecutive chunks (stride =
    size - overlap). The standard context-window packing step before
    tokenizer/model feeding.

    Pure generate stage — no shuffle; each row fans out independently.
    Returns (id_col, chunk_idx, n_tokens, chunk).
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    df = spread(df)
    w = tokens(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(stride)
    )
    d = df.select(id_col, w.alias("_w"), F.posexplode(starts).alias("chunk_idx", "_s"))
    piece = F.slice(F.col("_w"), F.col("_s") + 1, size)
    return d.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document unigram entropy in nats: -sum_t p_t ln p_t over the
    token distribution. Low entropy flags repetitive/templated text; used
    alongside repetition_stats in pre-training quality gates.

    Two aggregations partitioned by doc_id ((doc, term) counts then the
    entropy fold) — no global state, scales with the token count.
    Returns (id_col, n_tokens, entropy).
    """
    tok = spread(df).select(id_col, F.explode(tokens(text_col)).alias("term"))
    cnt = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            (
                -F.sum(F.col("c") * F.log(F.col("c")))
            ).alias("_clogc"),
        )
        .select(
            id_col,
            "n_tokens",
            # -sum(p ln p) = ln n - (1/n) sum(c ln c), computed stably
            F.round(
                F.log("n_tokens") + F.col("_clogc") / F.col("n_tokens"), 4
            ).alias("entropy"),
        )
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
) -> DataFrame:
    """Per-document perplexity under a corpus-trained bigram language model
    with add-k (Laplace) smoothing — the classic LM-based quality filter
    (high perplexity = unusual/garbled text, low = templated).

    p(w2|w1) = (C(w1,w2) + k) / (C(w1) + k*V);  V = unigram vocab size.
    ppl(doc) = exp(-mean over bigram positions of ln p).

    Scale shape: unigram/bigram count tables are vocab-bounded (much
    smaller than the corpus) and are joined back onto the exploded bigram
    stream by key — two count shuffles + one keyed join + a per-doc agg.
    Documents with fewer than 2 tokens are dropped (no bigram evidence).
    Returns (id_col, n_bigrams, ppl).
    """
    w = tokens(text_col)
    base = spread(df).select(id_col, w.alias("_w")).filter(F.size("_w") >= 2)
    bigrams = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.struct(
                    F.element_at("_w", i).alias("w1"),
                    F.element_at("_w", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    uni = (
        spread(df)
        .select(F.explode(tokens(text_col)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_size = uni.count()  # one scalar action; count tables stay lazy
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    logp = F.log(
        (F.col("c2") + F.lit(k)) / (F.col("c1") + F.lit(k * vocab_size))
    )
    return (
        bigrams.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.exp(-F.avg(logp)), 4).alias("ppl"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training pack by its
    START OFFSET in the corpus token stream (documents in ``id_col`` order):
    pack_id = floor(start_offset / budget). The deterministic sequence-
    packing step that follows chunking in a training-data pipeline —
    documents straddling a boundary belong to the pack they start in.

    The global cumulative token count uses toolbox.with_running_total
    (range-partitioned two-pass cumsum), so no single-partition window at
    any scale. Returns (id_col, n_tokens, start_offset, pack_id).
    """
    from fireworks_spark.operators.toolbox import with_running_total

    counted = df.select(
        id_col, F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    run = with_running_total(
        counted, [id_col], "n_tokens", total_col="_end"
    )
    return run.select(
        id_col,
        "n_tokens",
        (F.col("_end") - F.col("n_tokens")).alias("start_offset"),
        F.floor((F.col("_end") - F.col("n_tokens")) / budget).alias("pack_id"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition measures used as pre-training quality
    filters (Gopher-style): the fraction of tokens that are repeats of an
    earlier token, and the share of bigrams taken by the single most
    frequent bigram.

    Entirely PER-ROW: the bigram mode is computed by sorting the bigram
    array and folding the longest equal-run with F.aggregate — an earlier
    explode + (doc,bigram) groupBy + per-doc max formulation paid two
    shuffles for what is local per-document work (and measured 3-4x
    slower). No shuffle anywhere at any scale.

    Returns (id_col, n_tokens, dup_word_frac, top_bigram_frac).
    """
    w = tokens(text_col)
    base = spread(df).select(id_col, w.alias("_w"), F.size(w).alias("n_tokens"))
    bg = F.when(
        F.size("_w") >= 2,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("_w", i), F.element_at("_w", i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    stats = base.select(
        id_col,
        "n_tokens",
        (
            1.0
            - F.size(F.array_distinct("_w"))
            / F.greatest("n_tokens", F.lit(1))
        ).alias("dup_word_frac"),
        bg.alias("_bg"),
    )
    # longest equal run in the SORTED bigram array == max bigram count
    run = F.aggregate(
        "_bg",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return stats.select(
        id_col,
        "n_tokens",
        pround(F.col("dup_word_frac"), 4).alias("dup_word_frac"),
        pround(
            F.when(
                F.size("_bg") > 0, run / F.size("_bg")
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("top_bigram_frac"),
    )


# Gopher repetition thresholds (Rae et al. 2021 Table A1): a document is
# filtered when ANY fraction exceeds its bound
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full Gopher n-gram repetition rule set (Rae et al. 2021
    §A.1.1): per document, the fraction of characters taken by the most
    frequent {2,3,4}-gram (``top_ngram_frac_n``) and by all duplicated
    {5..10}-grams (``dup_ngram_frac_n``), plus ``rep_pass`` — the
    conjunction at the paper's thresholds. Conventions, stated because
    implementations differ: an n-gram's character weight is
    count * length(gram text incl. inner spaces); only grams occurring
    at least TWICE count as repetition (a singleton is not a repeat, so
    short all-distinct documents pass); ties for "most frequent" resolve
    to the largest count*length (deterministic and monotone); the
    denominator is the document's total character count;
    fractions use the portable floor(x*1e4+0.5)/1e4 rounding and the
    pass flag compares ROUNDED values — all engine-portable (q154's
    oracle re-derives every column).

    Tokenization is the NORMALIZING one (lower + trim + split on \\s+,
    empties dropped) — the same convention the q154 oracle uses — so text
    containing newlines/tabs/mixed case (e.g. q157's C4-reassembled docs)
    computes identical fractions in both engines; the denominator stays
    the RAW character count.

    Implementation: tokens come from the JVM ``words()`` expression (so
    tokenization is bit-identical to every other operator and to the
    oracle); the nine counts then run in ONE Arrow-batched mapInPandas
    pass, entirely per-row (no explode, no shuffle, partition-parallel).
    The previous all-expression version (nine interpreted sorted-array
    run-length folds, preserved in git history) was scale-safe but paid
    twice: a ~2s fixed cost compiling the 9-fold expression tree
    (dominant at any row count) and ~0.16ms/row interpreting it; one
    Counter pass per row over all n does the same exact arithmetic at a
    fraction of both."""
    from fireworks_spark.functions.text import words

    w = F.filter(words(text_col), lambda t: t != "")
    base = spread(df).select(
        id_col,
        F.length(text_col).cast("long").alias("_nc"),
        w.alias("_w"),
    )
    id_type = base.schema[id_col].dataType.simpleString()
    tops, dups = GOPHER_TOP_NGRAM_MAX, GOPHER_DUP_NGRAM_MAX
    frac_cols = [f"top_ngram_frac_{n}" for n in tops] + [
        f"dup_ngram_frac_{n}" for n in dups
    ]
    out_schema = ", ".join(
        [f"{id_col} {id_type}"] + [f"{c} double" for c in frac_cols]
    )

    def _stats(batches):
        import math
        from collections import Counter

        import pandas as pd

        def r4(x):
            return math.floor(x * 10000 + 0.5) / 10000

        for pdf in batches:
            rows = {c: [] for c in [id_col, *frac_cols]}
            for rid, nc, toks in zip(pdf[id_col], pdf["_nc"], pdf["_w"]):
                toks = list(toks) if toks is not None else []
                nc = int(nc) if nc is not None and not pd.isna(nc) else 0
                rows[id_col].append(rid)
                # per-DOC preprocessing shared by all nine n: intern each
                # distinct token to a small int (gram tuples then hash/
                # compare ints, not strings) and measure each id once —
                # the doc's token list is walked once, not once per n
                interned: dict = {}
                ids = [interned.setdefault(t, len(interned)) for t in toks]
                idlen = [0] * len(interned)
                for t, j in interned.items():
                    idlen[j] = len(t)
                for n, kind in [(n, "top") for n in tops] + [
                    (n, "dup") for n in dups
                ]:
                    val = 0.0
                    if nc > 0 and len(ids) >= n:
                        c = Counter(zip(*(ids[i:] for i in range(n))))
                        # gram char weight = token lens + inner spaces,
                        # summed per DISTINCT gram from the id lengths.
                        # counts >= 2 only: a singleton is not a repeat
                        vals = [
                            cnt * (sum(idlen[j] for j in g) + n - 1)
                            for g, cnt in c.items()
                            if cnt >= 2
                        ]
                        total = (
                            max(vals, default=0)
                            if kind == "top"
                            else sum(vals)
                        )
                        val = r4(total / nc)
                    rows[f"{kind}_ngram_frac_{n}"].append(float(val))
            yield pd.DataFrame(rows)

    out = base.mapInPandas(_stats, out_schema)
    rep_pass = F.lit(True)
    for n, mx in tops.items():
        rep_pass = rep_pass & (F.col(f"top_ngram_frac_{n}") <= mx)
    for n, mx in dups.items():
        rep_pass = rep_pass & (F.col(f"dup_ngram_frac_{n}") <= mx)
    return out.withColumn("rep_pass", rep_pass)


# --------------------------------------------------------------------------
# hashed n-gram linear scorer (fasttext-style quality classifier)
# --------------------------------------------------------------------------


def hashed_features(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, idx, cnt, n_tokens): hashing-trick bag-of-words features —
    every token maps to ``pmod(portable_hash(token), dim)``. The hash is
    the md5-based 60-bit portable hash (dedup.portable_token_hash60), so
    SQL engines derive identical indices from the raw text. One explode +
    one (id, idx) hash aggregation; feature cardinality is bounded by
    ``dim`` per doc regardless of vocabulary."""
    from fireworks_spark.operators.dedup import portable_token_hash60

    d = spread(df).select(
        id_col, tokens(text_col).alias("_w")
    ).filter(F.size("_w") > 0)
    ex = d.select(
        id_col,
        F.size("_w").alias("n_tokens"),
        F.explode("_w").alias("_t"),
    ).withColumn(
        "idx", F.pmod(portable_token_hash60(F.col("_t")), F.lit(dim))
    )
    return ex.groupBy(id_col, "n_tokens", "idx").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def hashed_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    pool: str = "mean",
) -> DataFrame:
    """Mean-pooled hashed-bag-of-words linear score per document — the
    fasttext-style quality-classifier forward pass, evaluated entirely in
    whole-stage codegen: per token, one portable hash + one lookup into
    the weight vector shipped as a single array Literal; per doc, an
    aggregate-mean. No explode, no shuffle, no Python — the filter runs
    at scan speed, which is what a keep/drop gate over 100 TB needs.

    score = bias + mean_t weights[hash(t) mod dim]. Returns
    (id, score). Train ``weights`` with :func:`fit_hashed_classifier` or
    bring calibrated ones."""
    from fireworks_spark.operators.dedup import portable_token_hash60

    dim = len(weights)
    wlit = F.lit([float(w) for w in weights])
    toks = tokens(text_col)
    tot = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                wlit, F.pmod(portable_token_hash60(t), F.lit(dim)).cast("int") + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if pool == "mean":
        score = F.when(
            F.size(toks) > 0, tot / F.size(toks) + F.lit(float(bias))
        ).otherwise(F.lit(float(bias)))
    elif pool == "sum":
        # With dyadic weights (multiples of 2^-k) a sum-pooled score is an
        # EXACT double — no mean division, so cross-engine comparisons are
        # bit-identical (what q136's oracle relies on).
        score = tot + F.lit(float(bias))
    else:
        raise ValueError(f"pool must be 'mean' or 'sum', got {pool!r}")
    return spread(df).select(id_col, score.alias("score"))


def fit_hashed_classifier(
    df: DataFrame,
    label_col: str,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    epochs: int = 20,
    lr: float = 1.0,
) -> tuple[list[float], float]:
    """Train the hashed-bag logistic classifier (labels 0/1) by full-batch
    distributed gradient descent. Per epoch: per-doc probabilities from
    the current weights (broadcast join on idx — the parameter table is
    ``dim`` rows), then the weight gradient aggregates per idx with
    map-side partials, so the shuffle moves O(dim) rows however large the
    corpus; the driver holds only the dim-vector. The bias gradient rides
    the SAME aggregate as a synthetic idx=-1 row, so each epoch is ONE
    job (one collect), not two. Feature frame persists across epochs
    (released before returning).

    Returns (weights, bias) for :func:`hashed_score`."""
    import math

    feats = persist(hashed_features(df, dim, id_col, text_col))
    labels = df.select(id_col, F.col(label_col).cast("double").alias("_y"))
    n_docs = labels.count()
    w = [0.0] * dim
    b = 0.0
    for _ in range(epochs):
        wdf = df.sparkSession.createDataFrame(
            [(i, w[i]) for i in range(dim)], "idx long, _w double"
        )
        scored = (
            feats.join(F.broadcast(wdf), "idx")
            .groupBy(id_col, "n_tokens")
            .agg(F.sum(F.col("cnt") * F.col("_w")).alias("_dot"))
            .select(
                id_col,
                (F.col("_dot") / F.col("n_tokens") + F.lit(b)).alias("_z"),
            )
            .join(labels, id_col)
            .select(
                id_col,
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z"))) - F.col("_y"))
                .alias("_err"),
            )
        )
        grad = (
            feats.join(scored, id_col)
            .select(
                "idx",
                (F.col("_err") * F.col("cnt") / F.col("n_tokens")).alias(
                    "_c"
                ),
            )
            .unionByName(
                scored.select(
                    F.lit(-1).cast("long").alias("idx"),
                    F.col("_err").alias("_c"),
                )
            )
            .groupBy("idx")
            .agg(F.sum("_c").alias("_g"))
            .collect()
        )
        gb = 0.0
        for r in grad:
            if r["idx"] == -1:
                gb = r["_g"] or 0.0
            else:
                w[r["idx"]] -= lr * r["_g"] / n_docs
        b -= lr * gb / n_docs
    feats.unpersist()
    return w, b
