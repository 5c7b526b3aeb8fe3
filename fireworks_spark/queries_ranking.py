"""Declared queries q82-q85: text ranking / chunking / repetition over the
documents corpus (operators/ranking.py). Same driver contract as every other
query family: identical column aliases on both sides, total ORDER BY,
ROUND on floats."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark.operators import dedup, ranking
from fireworks_spark.session import persist
from fireworks_spark.tables import table

_BM25_TERMS = ["spark", "join", "window"]

# Shared oracle CTE: whitespace tokens with empties dropped, matching
# ranking.tokens().
_W = (
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws "
    "FROM documents"
)


def _ddb_dot(x: str, y: str) -> str:
    """DuckDB left-fold dot product mirroring functions.vector (same
    summation order as Spark's aggregate-with-0-init)."""
    return (
        f"list_reduce(list_transform(range(1, array_length({x}) + 1), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), "
        f"(acc, v) -> acc + v)"
    )


_COS_Q_B = (
    f"({_ddb_dot('q.embedding', 'b.embedding')} / "
    f"(sqrt({_ddb_dot('q.embedding', 'q.embedding')}) * "
    f"sqrt({_ddb_dot('b.embedding', 'b.embedding')})))"
)


def q82_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights for every (document, term) pair."""
    d = table(spark, sf_dir, "documents")
    return ranking.tf_idf(d).orderBy("doc_id", "term")


def q83_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a three-term bag-of-words query."""
    d = table(spark, sf_dir, "documents")
    return ranking.bm25_topk(d, _BM25_TERMS, k=20)


def q120_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 top-20 for a three-term lexical query
    fused with the vector top-20 for doc 0's embedding via reciprocal-rank
    fusion (ranking.rrf_fuse — rank-only, so lexical and vector scores
    need no calibration). The oracle recomputes both rankings and the
    fused 1/(60+rank) sum from the raw tables."""
    from fireworks_spark.operators import similarity

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    bm = ranking.bm25_topk(d, _BM25_TERMS, k=20)
    qv = e.filter(F.col("vec_id") == 0)
    cos = similarity.cosine_topk(e, qv, k=20).select(
        F.col("nid").alias("doc_id"), "sim"
    )
    return (
        ranking.rrf_fuse([bm, cos], k=20)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("rk")
    )


def q84_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking: 32-token chunks, 8-token overlap."""
    d = table(spark, sf_dir, "documents")
    return ranking.chunk_tokens(d, size=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


def q85_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition stats: duplicate-word fraction and
    top-bigram share per document."""
    d = table(spark, sf_dir, "documents")
    return ranking.repetition_stats(d).orderBy("doc_id")


def q86_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence packing (512-token packs) by start offset in
    the id-ordered corpus token stream — distributed two-pass cumsum, no
    single-partition window."""
    d = table(spark, sf_dir, "documents")
    return ranking.pack_sequences(d, budget=512).orderBy("doc_id")


def q87_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training quality gate: length/shape bounds AND
    repetition bounds (Gopher-style) folded into one keep verdict per
    document."""
    d = table(spark, sf_dir, "documents")
    rep = ranking.repetition_stats(d)
    n_tok = F.size(ranking.tokens("text")).cast("long")
    avg_len = F.length("text").cast("double") / n_tok
    shape = d.select(
        "doc_id",
        ((n_tok >= 5) & (n_tok <= 100000) & (avg_len <= 20.0)).alias(
            "keep_shape"
        ),
    )
    return (
        shape.join(rep, "doc_id")
        .select(
            "doc_id",
            "keep_shape",
            (
                (F.col("dup_word_frac") <= 0.8)
                & (F.col("top_bigram_frac") <= 0.2)
            ).alias("keep_repetition"),
        )
        .withColumn(
            "keep", F.col("keep_shape") & F.col("keep_repetition")
        )
        .orderBy("doc_id")
    )


def q146_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination report (dedup.contamination_report): docs with
    doc_id % 97 == 0 play the eval set; every other doc reports its
    distinct word-3-gram count, the fraction found in the eval set's
    shingle pool, and the contaminated verdict at 50% overlap — the
    GPT-3-style graded rule next to q88's binary any-overlap drop.
    Benchmark shingles broadcast; the only corpus shuffle is the per-doc
    count aggregate."""
    from fireworks_spark.operators import dedup

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return (
        dedup.contamination_report(corpus, bench, n=3, threshold=0.5)
        .orderBy("doc_id")
    )


def q88_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 == 0 play the eval
    set; every remaining doc sharing a word 3-gram with it is dropped.
    Benchmark shingles broadcast; the corpus never shuffles."""
    from fireworks_spark.operators import dedup

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return (
        dedup.decontaminate(corpus, bench)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q129_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter decontamination: docs with doc_id % 89 == 0 play the
    eval set, compressed to a fixed 16 KiB Bloom bitset (built
    distributively, shipped as a plan literal); the corpus probes it as a
    whole-stage-codegen filter at the scan, and only survivors reach the
    exact broadcast semi-join verify. No false negatives -> the result is
    exactly the exact-overlap answer, so the oracle is plain SQL."""
    from fireworks_spark.operators import dedup

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    corpus = d.filter(F.col("doc_id") % 89 != 0)
    out = dedup.bloom_decontaminate(corpus, bench)
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


# Dyadic weights (multiples of 1/16): sum-pooled scores are exact doubles
# with <= 4 decimal digits, so ROUND(.,4) is the identity in every engine —
# no half-boundary rounding hazard in the cross-engine check.
_Q136_W = [((i * 37) % 21 - 10) / 16.0 for i in range(64)]


def q136_hashed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-style hashed-bag linear score per document with a fixed
    64-dim dyadic weight vector: per token one portable md5 hash + one
    lookup in a weight-array Literal, sum-pooled — all whole-stage
    codegen, and every score an exact double (see _Q136_W note). The
    oracle recomputes the identical score from the raw text with the
    same ordered fold."""
    from fireworks_spark.operators import ranking

    d = table(spark, sf_dir, "documents")
    return (
        ranking.hashed_score(d, _Q136_W, bias=0.125, pool="sum")
        .select("doc_id", (F.round("score", 4) + F.lit(0.0)).alias("score"))
        .orderBy("doc_id")
    )


def q130_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis): 20 docs per source, inclusion probability proportional to
    n_chars. The exponential sort key derives from a portable md5 uniform,
    so DuckDB reproduces the exact same winner set from the raw table."""
    from fireworks_spark.operators import toolbox

    d = table(spark, sf_dir, "documents")
    return (
        toolbox.weighted_sample(
            d, weight_col="n_chars", k=20, key_col="doc_id",
            group_col="source", seed=7,
        )
        .select(
            "doc_id", "source", F.round("es_key", 4).alias("es_key")
        )
        .orderBy("source", "doc_id")
    )


def q131_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quota sampling: keep a deterministic keyed-random
    prefix of each source's docs whose cumulative n_chars stays within a
    20k budget (the "take N tokens per domain" training-mix primitive).
    The order key is the portable md5 uniform — exact in float, so the
    prefix (and the exact cum_tokens longs) match DuckDB bit-for-bit."""
    from fireworks_spark.operators import toolbox

    d = table(spark, sf_dir, "documents")
    return (
        toolbox.token_budget_sample(
            d, token_col="n_chars", budget=20_000, key_col="doc_id",
            group_col="source", seed=11,
        )
        .select("doc_id", "source", "n_chars", "cum_tokens")
        .orderBy("source", "doc_id")
    )


def q138_pretraining_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pre-training mix: exact dedup (md5 canonical keep) ->
    Bloom-prefiltered benchmark decontamination (doc_id % 89 plays the
    eval set) -> quality gate (>=5 tokens, avg token length <= 20) ->
    deterministic weighted sampling (10 docs per source, weight n_chars).
    Every stage is an operator under test elsewhere; this query checks
    the COMPOSITION against one SQL oracle, which is what a user's actual
    pipeline looks like."""
    from fireworks_spark.operators import dedup, textstats, toolbox

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    corpus = d.filter(F.col("doc_id") % 89 != 0)
    # persisted: bloom_decontaminate consumes `deduped` in BOTH its
    # branches (the shingle/Bloom taint pass and the final anti-join), so
    # without it the md5 keep-list aggregate subtree executes twice (plan
    # showed the HashAggregate(min(doc_id) by h) + its Exchange duplicated,
    # r15). The keep-list is ids only — metadata-sized at any corpus scale
    # (guide §8: decide with small rows), safe to persist.
    keep = persist(
        dedup.exact_dedup(corpus)
        .select(F.col("keep_id").alias("doc_id"))
    )
    deduped = corpus.join(keep, "doc_id", "left_semi")
    clean = dedup.bloom_decontaminate(deduped, bench)
    ntok = textstats.token_count("text")
    qual = clean.filter(
        (ntok >= 5) & (F.length("text").cast("double") / ntok <= 20.0)
    )
    mix = toolbox.weighted_sample(
        qual, "n_chars", k=10, key_col="doc_id", group_col="source", seed=7
    )
    return mix.select("doc_id", "source", "n_chars").orderBy("source", "doc_id")


def q89_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix resampling: src0 kept fully, src1 half,
    src2 quarter, everything else 10%; counts per source afterwards."""
    from fireworks_spark.operators.toolbox import mix_sample

    d = table(spark, sf_dir, "documents")
    kept = mix_sample(
        d,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept"))
        .orderBy("source")
    )


def q139_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-temperature domain rebalancing at alpha=0.5 (the multilingual
    upweighting standard): kept share per source proportional to
    sqrt(count). The oracle re-derives the rates from the raw counts with
    the same arithmetic and replays the deterministic keyed filter."""
    from fireworks_spark.operators import toolbox

    d = table(spark, sf_dir, "documents")
    return (
        toolbox.temperature_mix(d, stratum_col="source", alpha=0.5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept"))
        .orderBy("source")
    )


def q90_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats) — the low-entropy filter of a
    quality pipeline."""
    d = table(spark, sf_dir, "documents")
    return ranking.token_entropy(d).orderBy("doc_id")


def q97_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality filter: per-doc perplexity under an add-1 bigram
    model trained on the corpus itself."""
    d = table(spark, sf_dir, "documents")
    return ranking.bigram_perplexity(d).orderBy("doc_id")


def q110_chunk_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact-duplicate contamination (Lee et al. ExactSubstr
    signal): fraction of each doc's full 20-token windows (stride 10)
    appearing verbatim in another document."""
    from fireworks_spark.operators import dedup

    d = table(spark, sf_dir, "documents")
    return dedup.chunk_dup_stats(d, size=20, overlap=10).orderBy("doc_id")


def q104_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights of every document against a deterministic
    target slice (doc_id % 7 = 0): add-1 unigram LMs over the raw vocab,
    score = sum of per-occurrence log ratios."""
    d = table(spark, sf_dir, "documents")
    return ranking.dsir_weights(
        d, d.filter(F.col("doc_id") % 7 == 0)
    ).orderBy("doc_id")



def q113_rebalance_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-mix rebalance of lineitem across return flags (N holds ~2x
    the mass of A/R): observed counts -> integer keep-thresholds ->
    deterministic keyed filter (toolbox.rebalance_strata — counts
    broadcast, filter map-side, no rand()). Output: per-flag kept count +
    key checksum, so the oracle pins the exact kept SET, not just sizes."""
    from fireworks_spark.operators.toolbox import rebalance_strata

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("lkey"),
    )
    kept = rebalance_strata(li, "l_returnflag", "lkey")
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("lkey").alias("key_sum"),
        )
        .orderBy("l_returnflag")
    )


RANKING_QUERIES = {
    "q113_rebalance_strata": q113_rebalance_strata,
    "q82_tfidf": q82_tfidf,
    "q104_dsir_weights": q104_dsir_weights,
    "q110_chunk_dup_stats": q110_chunk_dup_stats,
    "q83_bm25": q83_bm25,
    "q120_hybrid_rrf": q120_hybrid_rrf,
    "q84_chunk": q84_chunk,
    "q85_repetition": q85_repetition,
    "q86_pack_sequences": q86_pack_sequences,
    "q87_quality_gate": q87_quality_gate,
    "q88_decontaminate": q88_decontaminate,
    "q146_contamination_report": q146_contamination_report,
    "q129_bloom_decontaminate": q129_bloom_decontaminate,
    "q130_weighted_sample": q130_weighted_sample,
    "q136_hashed_score": q136_hashed_score,
    "q138_pretraining_mix": q138_pretraining_mix,
    "q139_temperature_mix": q139_temperature_mix,
    "q131_token_budget_sample": q131_token_budget_sample,
    "q89_domain_mix": q89_domain_mix,
    "q90_token_entropy": q90_token_entropy,
    "q97_bigram_perplexity": q97_bigram_perplexity,
}

RANKING_ORACLE = {
    "q113_rebalance_strata": (
        "WITH base AS (SELECT l_returnflag, "
        "l_orderkey * 10 + l_linenumber AS lkey FROM lineitem), "
        "cnt AS (SELECT l_returnflag, count(*) AS c FROM base GROUP BY 1), "
        "m AS (SELECT min(c) AS mc FROM cnt) "
        "SELECT b.l_returnflag, count(*) AS kept, "
        "CAST(sum(b.lkey) AS BIGINT) AS key_sum "
        "FROM base b JOIN cnt USING (l_returnflag), m "
        "WHERE b.lkey % 10000 < (mc * 10000) // c "
        "GROUP BY 1 ORDER BY 1"
    ),

    "q110_chunk_dup_stats": f"""
        WITH w AS ({_W}),
        st AS (
            SELECT doc_id, ws,
                   unnest(range(0, greatest(len(ws) - 1, 0) + 1, 10)) AS s
            FROM w
        ),
        ch AS (
            SELECT doc_id,
                   array_to_string(list_slice(ws, s + 1, s + 20), ' ') AS chunk
            FROM st WHERE len(list_slice(ws, s + 1, s + 20)) = 20
        ),
        cd AS (SELECT DISTINCT doc_id, chunk FROM ch),
        nd AS (SELECT chunk, count(*) AS nd FROM cd GROUP BY chunk)
        SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
               floor(avg(CASE WHEN nd >= 2 THEN 1.0 ELSE 0.0 END::DOUBLE)
                     * 10000 + 0.5) / 10000 + 0.0 AS dup_chunk_frac
        FROM ch JOIN nd USING (chunk)
        GROUP BY ch.doc_id ORDER BY ch.doc_id
    """,
    "q104_dsir_weights": f"""
        WITH w AS ({_W}),
        rtok AS (SELECT doc_id, unnest(ws) AS tok FROM w),
        rc0 AS (SELECT tok, COUNT(*)::BIGINT AS rc FROM rtok GROUP BY tok),
        tc0 AS (
            SELECT tok, COUNT(*)::BIGINT AS tc
            FROM rtok WHERE doc_id % 7 = 0 GROUP BY tok
        ),
        tot AS (
            SELECT (SELECT SUM(rc)::DOUBLE FROM rc0) AS tr,
                   (SELECT COUNT(*)::DOUBLE FROM rc0) AS v,
                   (SELECT COALESCE(SUM(tc), 0)::DOUBLE FROM tc0) AS tt
        ),
        lr AS (
            SELECT rc0.tok,
                   LN((COALESCE(tc, 0) + 1.0) / (tt + v))
                 - LN((rc + 1.0) / (tr + v)) AS lr
            FROM rc0 LEFT JOIN tc0 USING (tok) CROSS JOIN tot
        ),
        pd AS (
            SELECT doc_id, tok, COUNT(*)::BIGINT AS cnt
            FROM rtok GROUP BY doc_id, tok
        )
        SELECT pd.doc_id, ROUND(SUM(cnt * lr), 4) + 0.0 AS dsir_logw
        FROM pd JOIN lr USING (tok)
        GROUP BY pd.doc_id ORDER BY pd.doc_id
    """,
    "q82_tfidf": f"""
        WITH w AS ({_W}),
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        tf AS (
            SELECT doc_id, term, COUNT(*)::BIGINT AS tf
            FROM tok GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               ROUND(tf.tf * LN(n.n / dfreq.df), 4) + 0.0 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ORDER BY doc_id, term
    """,
    "q83_bm25": f"""
        WITH w AS ({_W}),
        tok AS (
            SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM w
        ),
        postings AS (
            SELECT doc_id, term, dl, COUNT(*)::BIGINT AS tf
            FROM tok WHERE term IN ('spark', 'join', 'window')
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM postings GROUP BY 1),
        stats AS (
            SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(ws))::DOUBLE AS avgdl
            FROM w
        )
        SELECT doc_id,
               ROUND(SUM(
                   LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               ), 4) + 0.0 AS score
        FROM postings JOIN dfreq USING (term) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    "q120_hybrid_rrf": f"""
        WITH w AS ({_W}),
        tok AS (
            SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM w
        ),
        postings AS (
            SELECT doc_id, term, dl, COUNT(*)::BIGINT AS tf
            FROM tok WHERE term IN ('spark', 'join', 'window')
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM postings GROUP BY 1),
        stats AS (
            SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(ws))::DOUBLE AS avgdl
            FROM w
        ),
        bm AS (
            SELECT doc_id,
                   ROUND(SUM(
                       LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   ), 4) AS score
            FROM postings JOIN dfreq USING (term) CROSS JOIN stats
            GROUP BY doc_id
            ORDER BY score DESC, doc_id
            LIMIT 20
        ),
        bmr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS r
            FROM bm
        ),
        cosres AS (
            SELECT b.vec_id AS doc_id,
                   round({_COS_Q_B}, 4) AS sim
            FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
            WHERE q.vec_id = 0
            ORDER BY sim DESC, doc_id
            LIMIT 20
        ),
        cosr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY sim DESC, doc_id) AS r
            FROM cosres
        ),
        u AS (
            SELECT doc_id, r FROM bmr
            UNION ALL
            SELECT doc_id, r FROM cosr
        ),
        f AS (
            SELECT doc_id, ROUND(SUM(1.0 / (60 + r)), 6) AS rrf
            FROM u GROUP BY doc_id
        )
        SELECT doc_id, rrf, rk FROM (
            SELECT doc_id, rrf,
                   row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
            FROM f
        ) WHERE rk <= 20 ORDER BY rk
    """,
    "q84_chunk": f"""
        WITH w AS ({_W})
        SELECT doc_id,
               (s // 24)::INTEGER AS chunk_idx,
               len(list_slice(ws, s + 1, s + 32))::INTEGER AS n_tokens,
               array_to_string(list_slice(ws, s + 1, s + 32), ' ') AS chunk
        FROM w, unnest(generate_series(0, greatest(len(ws) - 1, 0), 24)) t(s)
        ORDER BY doc_id, chunk_idx
    """,
    "q97_bigram_perplexity": f"""
        WITH w AS ({_W}),
        base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
        bge AS (
            SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(ws) - 1),
                           i -> {{'w1': ws[i], 'w2': ws[i + 1]}}
                       )) AS s
                FROM base
            )
        ),
        uni AS (
            SELECT t AS w1, COUNT(*)::BIGINT AS c1 FROM (
                SELECT unnest(ws) AS t FROM w
            ) GROUP BY 1
        ),
        v AS (SELECT COUNT(*)::DOUBLE AS vs FROM uni),
        big AS (
            SELECT w1, w2, COUNT(*)::BIGINT AS c2 FROM bge GROUP BY 1, 2
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
               ROUND(EXP(-AVG(LN((c2 + 1.0) / (c1 + vs)))), 4) + 0.0 AS ppl
        FROM bge JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        GROUP BY doc_id ORDER BY doc_id
    """,
    "q90_token_entropy": f"""
        WITH w AS ({_W}),
        tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        cnt AS (
            SELECT doc_id, term, COUNT(*)::BIGINT AS c
            FROM tok GROUP BY 1, 2
        )
        SELECT doc_id, SUM(c)::BIGINT AS n_tokens,
               ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 4) + 0.0
                   AS entropy
        FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    "q146_contamination_report": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, array_length(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                     AS shingle
          FROM toks WHERE array_length(w) >= 3
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_shingles,
                 floor(AVG(CASE WHEN shingle IN (SELECT shingle FROM bench)
                                THEN 1.0 ELSE 0.0 END)
                       * 10000 + 0.5) / 10000 + 0.0 AS frac
          FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
               COALESCE(p.frac, 0.0) AS overlap_frac,
               COALESCE(p.frac, 0.0) >= 0.5 AS contaminated
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        WHERE d.doc_id % 97 <> 0
        ORDER BY d.doc_id
    """,
    "q88_decontaminate": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, array_length(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                     AS shingle
          FROM toks WHERE array_length(w) >= 3
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        tainted AS (
          SELECT DISTINCT doc_id FROM sh
          WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench)
        )
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM tainted)
        ORDER BY doc_id
    """,
    # Bloom prefilter + exact verify == exact overlap (no false negatives),
    # so the oracle is the same exact-decontamination SQL at modulus 89.
    "q129_bloom_decontaminate": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, array_length(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                     AS shingle
          FROM toks WHERE array_length(w) >= 3
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0),
        tainted AS (
          SELECT DISTINCT doc_id FROM sh
          WHERE doc_id % 89 <> 0 AND shingle IN (SELECT shingle FROM bench)
        )
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 89 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM tainted)
        ORDER BY doc_id
    """,
    # Portable md5 uniform: same 60-bit integer as Spark's
    # conv(substring(md5(key:seed),1,15),16,10); (h % 2^20 + 0.5)/2^20 is
    # exact in binary float, so ordering on it is bit-identical.

    # Summation mirrors Spark's aggregate: a sequential left-fold over the
    # token array (join+SUM reorders float adds and flips round(.,4) at
    # exact .00005 boundaries).
    "q136_hashed_score": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS ws
          FROM documents
        ),
        s AS (
          SELECT doc_id, array_length(ws) AS n,
                 list_reduce(list_prepend(0.0, list_transform(ws,
                     t -> ([-0.625::DOUBLE, 0.375::DOUBLE, 0.0625::DOUBLE, -0.25::DOUBLE, -0.5625::DOUBLE, 0.4375::DOUBLE, 0.125::DOUBLE, -0.1875::DOUBLE, -0.5::DOUBLE, 0.5::DOUBLE, 0.1875::DOUBLE, -0.125::DOUBLE, -0.4375::DOUBLE, 0.5625::DOUBLE, 0.25::DOUBLE, -0.0625::DOUBLE, -0.375::DOUBLE, 0.625::DOUBLE, 0.3125::DOUBLE, 0.0::DOUBLE, -0.3125::DOUBLE, -0.625::DOUBLE, 0.375::DOUBLE, 0.0625::DOUBLE, -0.25::DOUBLE, -0.5625::DOUBLE, 0.4375::DOUBLE, 0.125::DOUBLE, -0.1875::DOUBLE, -0.5::DOUBLE, 0.5::DOUBLE, 0.1875::DOUBLE, -0.125::DOUBLE, -0.4375::DOUBLE, 0.5625::DOUBLE, 0.25::DOUBLE, -0.0625::DOUBLE, -0.375::DOUBLE, 0.625::DOUBLE, 0.3125::DOUBLE, 0.0::DOUBLE, -0.3125::DOUBLE, -0.625::DOUBLE, 0.375::DOUBLE, 0.0625::DOUBLE, -0.25::DOUBLE, -0.5625::DOUBLE, 0.4375::DOUBLE, 0.125::DOUBLE, -0.1875::DOUBLE, -0.5::DOUBLE, 0.5::DOUBLE, 0.1875::DOUBLE, -0.125::DOUBLE, -0.4375::DOUBLE, 0.5625::DOUBLE, 0.25::DOUBLE, -0.0625::DOUBLE, -0.375::DOUBLE, 0.625::DOUBLE, 0.3125::DOUBLE, 0.0::DOUBLE, -0.3125::DOUBLE, -0.625::DOUBLE])[
                       CAST(('0x' || substring(md5(t), 1, 15))::BIGINT % 64
                            AS INT) + 1])),
                   (acc, x) -> acc + x) AS tot
          FROM toks
        )
        SELECT doc_id,
               ROUND(tot + 0.125, 4) + 0.0 AS score
        FROM s ORDER BY doc_id
    """,

    "q139_temperature_mix": """
        WITH c AS (
          SELECT source, COUNT(*)::DOUBLE AS n FROM documents GROUP BY source
        ),
        p AS (SELECT source, n, pow(n, 0.5) AS pw FROM c),
        t AS (SELECT SUM(pw) AS tot FROM p),
        r AS (SELECT source, (pw / tot) / n AS raw FROM p, t),
        m AS (SELECT MAX(raw) AS top FROM r),
        rates AS (SELECT source, raw / top AS rate FROM r, m)
        SELECT d.source, COUNT(*)::BIGINT AS kept
        FROM documents d JOIN rates USING (source)
        WHERE (('0x' || substring(md5(d.doc_id || ':' || 13), 1, 15))
                 ::BIGINT % 1048576 + 0.5) / 1048576.0 < rate
        GROUP BY d.source ORDER BY d.source
    """,
    "q138_pretraining_mix": """
        WITH corpus AS (
          SELECT * FROM documents WHERE doc_id % 89 <> 0
        ),
        norm AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
          FROM corpus
        ),
        keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(nt)),
        dd AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
        toksall AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\\s+', ' ', 'g'), ' ') AS w
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, array_length(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                     AS shingle
          FROM toksall WHERE array_length(w) >= 3
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0),
        tainted AS (
          SELECT DISTINCT doc_id FROM sh
          WHERE doc_id % 89 <> 0 AND shingle IN (SELECT shingle FROM bench)
        ),
        clean AS (
          SELECT dd.* FROM dd
          WHERE dd.doc_id NOT IN (SELECT doc_id FROM tainted)
        ),
        qual AS (
          SELECT c.*,
                 array_length(string_split(regexp_replace(lower(trim(text)),
                     '\\s+', ' ', 'g'), ' ')) AS ntok
          FROM clean c
        ),
        gated AS (
          SELECT * FROM qual
          WHERE ntok >= 5 AND length(text) * 1.0 / ntok <= 20.0
        ),
        es AS (
          SELECT doc_id, source, n_chars,
                 -ln((('0x' || substring(md5(doc_id || ':' || 7), 1, 15))
                        ::BIGINT % 1048576 + 0.5) / 1048576.0)
                   / n_chars AS e
          FROM gated WHERE n_chars > 0
        ),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY e, doc_id) AS rk
          FROM es
        )
        SELECT doc_id, source, n_chars
        FROM r WHERE rk <= 10 ORDER BY source, doc_id
    """,
    "q130_weighted_sample": """
        WITH s AS (
          SELECT doc_id, source,
                 -ln((('0x' || substring(md5(doc_id || ':' || 7), 1, 15))
                        ::BIGINT % 1048576 + 0.5) / 1048576.0)
                   / n_chars AS es
          FROM documents WHERE n_chars > 0
        ),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY es, doc_id) AS rk
          FROM s
        )
        SELECT doc_id, source, ROUND(es, 4) + 0.0 AS es_key
        FROM r WHERE rk <= 20 ORDER BY source, doc_id
    """,
    "q131_token_budget_sample": """
        WITH s AS (
          SELECT doc_id, source, n_chars,
                 (('0x' || substring(md5(doc_id || ':' || 11), 1, 15))
                    ::BIGINT % 1048576 + 0.5) / 1048576.0 AS u
          FROM documents
        ),
        c AS (
          SELECT *, SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )::BIGINT AS cum_tokens
          FROM s
        )
        SELECT doc_id, source, n_chars, cum_tokens
        FROM c WHERE cum_tokens <= 20000 ORDER BY source, doc_id
    """,
    "q89_domain_mix": """
        SELECT source, COUNT(*)::BIGINT AS kept FROM documents
        WHERE doc_id % 10000 <
              CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                          WHEN 'src2' THEN 0.25 ELSE 0.1 END * 10000
        GROUP BY source ORDER BY source
    """,
    "q86_pack_sequences": f"""
        WITH w AS ({_W}),
        c AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM w),
        r AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS start_offset
            FROM c
        )
        SELECT doc_id, n_tokens, start_offset,
               (start_offset // 512)::BIGINT AS pack_id
        FROM r ORDER BY doc_id
    """,
    "q87_quality_gate": f"""
        WITH w AS ({_W}),
        shape AS (
            SELECT doc_id,
                   (len(ws) >= 5 AND len(ws) <= 100000
                    AND length(text)::DOUBLE / len(ws) <= 20.0)
                       AS keep_shape
            FROM w JOIN documents USING (doc_id)
        ),
        dup AS (
            SELECT doc_id,
                   ROUND(1.0 - len(list_distinct(ws))::DOUBLE
                         / greatest(len(ws), 1), 4) AS dwf
            FROM w
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i + 1]
                   )) AS bigram
            FROM w WHERE len(ws) >= 2
        ),
        cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        top AS (
            SELECT doc_id, ROUND(MAX(c)::DOUBLE / SUM(c), 4) AS tbf
            FROM cnt GROUP BY 1
        )
        SELECT shape.doc_id, keep_shape,
               (dwf <= 0.8 AND COALESCE(tbf, 0.0) <= 0.2) AS keep_repetition,
               (keep_shape AND dwf <= 0.8 AND COALESCE(tbf, 0.0) <= 0.2)
                   AS keep
        FROM shape JOIN dup USING (doc_id) LEFT JOIN top USING (doc_id)
        ORDER BY doc_id
    """,
    "q85_repetition": f"""
        WITH w AS ({_W}),
        base AS (
            SELECT doc_id, len(ws)::INTEGER AS n_tokens,
                   floor((1.0 - len(list_distinct(ws))::DOUBLE
                          / greatest(len(ws), 1)) * 10000 + 0.5) / 10000
                       + 0.0 AS dup_word_frac,
                   ws
            FROM w
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i + 1]
                   )) AS bigram
            FROM w WHERE len(ws) >= 2
        ),
        cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        top AS (
            SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS f FROM cnt GROUP BY 1
        )
        SELECT base.doc_id, n_tokens, dup_word_frac,
               floor(COALESCE(top.f, 0.0) * 10000 + 0.5) / 10000
                 + 0.0 AS top_bigram_frac
        FROM base LEFT JOIN top USING (doc_id)
        ORDER BY doc_id
    """,
}
