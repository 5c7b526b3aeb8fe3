"""Declared queries for the LLM-data-pipeline operators (dedup, similarity
search, text analysis) over the ``documents`` and ``embeddings`` tables.

Oracle notes: the DuckDB SQL mirrors the Spark expressions *exactly* —
same normalization regex, same shingling, same left-fold float summation
order (DuckDB list_reduce == Spark aggregate-with-0-init), same ROUND
placement — so results are hash-identical, not merely approximately equal.

MinHash-LSH and SimHash base hashes are xxhash64 (no DuckDB equivalent):
the minhash query is still oracle-checkable because its output is the
LSH-candidates *verified by exact Jaccard*. Its declared threshold is 0.8 so
that LSH recall is statistically certain: a pair at jac = 0.8 collides in at
least one of 16 bands (2 rows each) with probability 1 - (1-0.8^2)^16 >
1 - 3e-8; the band-miss probability only falls further above 0.8. SimHash
has no SQL equivalent and is declared rows-only (bit-level correctness is
asserted in tests/test_dedup.py against a Python reference implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark.operators import dedup, ranking, similarity, textstats
from fireworks_spark.operators.spread import spread
from fireworks_spark.session import persist
from fireworks_spark.tables import table

# --- shared DuckDB SQL fragments (mirror fireworks_spark.functions.text) ---

_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"
_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, array_length(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM toks WHERE array_length(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT ida, idb, floor(c / (sa.sz + sb.sz - c) * 1000 + 0.5) / 1000 AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = ida
  JOIN sizes sb ON sb.doc_id = idb
)
"""


def _cos(a: str, b: str) -> str:
    """DuckDB cosine mirroring functions.vector (left fold, double)."""
    def _dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, array_length({x}) + 1), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), "
            f"(acc, v) -> acc + v)"
        )

    return f"({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})))"


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------



def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d).orderBy("keep_id")


def q31_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via AllPairs prefix-filtered candidates —
    recall-exact at ANY corpus scale. The earlier df_cap=64 heuristic was
    scale-dependent: shingle document frequencies grow with the corpus, and
    at sf1 (50k docs) real near-dup pairs share only shingles hotter than
    the cap, silently losing pairs (caught by the round-9 sf1 sweep)."""
    d = table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(d, threshold=0.5).orderBy("ida", "idb")


def q134_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact-Jaccard similarity join: even doc_ids play the
    left corpus, odd the right, threshold 0.5. Same prefix-filtered
    candidate generation (recall-exact at any scale) and exact-bound
    pruning as the self-join q31; verify uses all shingles so values are
    exact."""
    d = table(spark, sf_dir, "documents")
    out = dedup.jaccard_join(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        threshold=0.5,
    )
    return out.orderBy("lid", "rid")


def q135_minhash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash-LSH join at threshold 0.8 (even doc_ids vs
    odd): banded-signature candidates between the two corpora, exact
    Jaccard verify. 16x2 banding makes recall at J>=0.8 ~certain, so the
    exact-SQL cross-Jaccard is the value oracle (same argument as q32)."""
    d = table(spark, sf_dir, "documents")
    out = dedup.minhash_join(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        threshold=0.8,
    )
    return out.orderBy("lid", "rid")


def q32_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verify at threshold 0.8 (the
    regime where 16x2 banding has ~certain recall; see module docstring)."""
    d = table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(d, threshold=0.8).orderBy("ida", "idb")


def q33_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 3 — the standard radius for
    64-bit signatures (Manku et al., WWW'07 web-crawl dedup); banding is
    sized by pigeonhole (max_hamming+1 bands) so recall is exact, which is
    what lets the all-pairs SQL below serve as a value oracle. Uses the
    md5-based portable token hash so DuckDB derives bit-identical
    signatures from the raw text (xxhash64 has no SQL equivalent)."""
    d = table(spark, sf_dir, "documents")
    out = dedup.simhash_pairs(
        d, max_hamming=3, token_hash=dedup.portable_token_hash60
    )
    return out.orderBy("ida", "idb")


def q34_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded sign-LSH + exact verify (no crossJoin:
    candidates meet on a bounded (band_idx, band_key) equi-join; auto-tuned
    bands give miss probability <= 1e-6 at the 0.5 boundary)."""
    e = table(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(e, threshold=0.5).orderBy("ida", "idb")


def q42_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard>=0.8 pair graph (candidates
    from banded MinHash — at 0.8 with 16 bands the per-pair miss
    probability is (1 - 0.8^2)^16 ~ 7e-8, so the graph equals the exact
    one; jac values themselves are exact, computed on candidates only):
    the clustering step that turns pairwise near-dup hits into dedup
    groups. Oracle: DuckDB recursive-CTE transitive closure."""
    d = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(d, threshold=CLOSURE_JACCARD_THRESHOLD)
    out = dedup.dup_clusters(pairs)
    return out.select(F.col("id").alias("doc_id"), "cluster").orderBy("doc_id")


def q43_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus after dropping every near-dup except each cluster's
    minimum-id member — the actual output of a dedup pipeline. Pair graph
    via the same LSH-candidate route as q42 (recall-certain at 0.8)."""
    d = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(d, threshold=CLOSURE_JACCARD_THRESHOLD)
    return dedup.keep_canonical(d, pairs).select("doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def q35_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return (
        similarity.cosine_topk(e, q, k=5)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q36_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe structure (cell assignment -> nprobe centroid ranking ->
    cell-restricted exact top-k) with an INJECTED deterministic coarse
    quantizer: per-label mean vectors, computed distributively (posexplode
    + groupBy, one shuffle of n_labels x dim partial sums) and collected as
    num_clusters x dim scalars — bounded like any quantizer. Deterministic
    centroids make the whole output SQL-derivable, so the driver
    value-checks the probe machinery end-to-end (recall regressions fail
    the driver, not just the local suite). The LEARNED spherical-k-means
    quantizer remains the ivf_topk default, covered by
    tests/test_similarity.py (exhaustive probe == brute force; nprobe=1
    recall >= 0.9 on planted clusters)."""
    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "x"
            ),
        )
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cx"))
        .collect()
    )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["d"]] = r["cx"]
    centroids = [
        [by_label[lb][d] for d in sorted(by_label[lb])]
        for lb in sorted(by_label)
    ]
    q = e.filter(F.col("vec_id") < 10)
    return (
        similarity.ivf_topk(e, q, k=5, nprobe=2, centroids=centroids)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q102_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: probe only the query's hyperplane-sign bucket
    (equi-join on bucket id — the O(N/2^bits) scale path between brute
    force and IVF). Uses the md5-parity portable projections so the SQL
    oracle derives bit-identical buckets from the raw vectors and
    value-checks the returned neighbors AND sims (a recall regression
    fails the driver); the xxhash64 default path is covered by
    tests/test_similarity.py (every returned neighbor appears in the
    brute-force ranking with the same similarity).

    Deliberately SINGLE-probe (r12 verdict #7): this query is the recall
    floor q184's multi-probe variant is measured against at identical
    bits/oracle, and at 6 bits the 64 buckets each hold ~N/64 >> k
    candidates. At production N/bucket ratios, turn on
    ``probe_hamming1`` (q184) — the lsh_bucket_topk docstring carries
    the sizing guidance."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return (
        similarity.lsh_bucket_topk(
            e, q, k=5, num_bits=6, portable=True, dim=64
        )
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q184_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al., VLDB'07 fixed-radius variant):
    each query probes its own bucket plus the num_bits Hamming-1 neighbor
    buckets — the recall repair for q102's fixed-bits decay as N/bucket
    grows (probing is x(bits+1) candidates on the BROADCAST query side
    only; the base stays one bucket per vector, still an equi-join). Same
    md5-parity portable projections as q102 so the oracle re-derives the
    buckets and joins on bit_count(xor) <= 1."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return (
        similarity.lsh_bucket_topk(
            e, q, k=5, num_bits=6, portable=True, dim=64,
            probe_hamming1=True,
        )
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q119_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py — the memory-bound
    ANN scale path: m-byte codes instead of raw vectors, JVM lookup-table
    scan) with INJECTED deterministic codebooks: per-label mean subvectors
    over m=4 x 16-dim subspaces, computed distributively exactly like
    q36's coarse quantizer. Deterministic codebooks make encode (argmin
    over codes) and ADC (sum of subspace distances) SQL-derivable, so the
    driver value-checks the whole PQ pipeline — codes, LUTs, ranking. The
    LEARNED-codebook path and the exact-refine stage are covered by
    tests/test_pq.py (closed-form ADC on codebook-aligned data,
    effective-recall on planted clusters, IVFPQ==PQ under exhaustive
    probe, JVM-only scan plan)."""
    from fireworks_spark.operators import pq as pqm

    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "x"
            ),
        )
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cx"))
        .collect()
    )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["d"]] = r["cx"]
    labels = sorted(by_label)
    m, dsub = 4, 16
    codebooks = [
        [
            [by_label[lb][i * dsub + t] for t in range(dsub)]
            for lb in labels
        ]
        for i in range(m)
    ]
    q = e.filter(F.col("vec_id") < 10)
    return (
        pqm.pq_topk(e, q, k=5, codebooks=codebooks)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q128_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed end-to-end (operators/pq.py ivfpq_topk): the coarse
    quantizer bounds WHICH cells a query scans, PQ codes bound BYTES per
    scanned row — the standard billion-scale ANN layout. Both quantizers
    are injected deterministically (per-label mean vectors for the cells,
    per-label mean subvectors for the m=4 codebooks), so cell assignment,
    probe ranking, PQ encoding and the ADC distances are ALL SQL-derivable
    and the driver value-checks the composition, not just the parts
    (q36 checks the IVF probe alone, q119 the PQ scan alone)."""
    from fireworks_spark.operators import pq as pqm

    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "x"
            ),
        )
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cx"))
        .collect()
    )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["d"]] = r["cx"]
    labels = sorted(by_label)
    centroids = [
        [by_label[lb][d] for d in sorted(by_label[lb])] for lb in labels
    ]
    m, dsub = 4, 16
    codebooks = [
        [
            [by_label[lb][i * dsub + t] for t in range(dsub)]
            for lb in labels
        ]
        for i in range(m)
    ]
    q = e.filter(F.col("vec_id") < 10)
    return (
        pqm.ivfpq_topk(
            e, q, k=5, nprobe=2, centroids=centroids, codebooks=codebooks
        )
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q127_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance-1 join (operators/fuzzy.py, SymSpell deletion-
    neighborhood blocking — recall exactly 1, no cartesian product):
    every part name with its 3rd character deleted resolved back against
    the DISTINCT canonical-name dictionary. The oracle re-derives the
    deletion keys, the candidate equi-join and the levenshtein verify in
    SQL, so blocking completeness AND distance values are both
    driver-checked."""
    from fireworks_spark.operators.fuzzy import fuzzy_join

    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.lower("p_name").alias("nm")
    )
    # every 10th part plays the dirty side, resolved against the DISTINCT
    # canonical-name dictionary (min p_partkey per name as the entity id).
    # The fixture draws part names from a tiny vocabulary (64 distinct
    # names across 200k rows at sf1, ~3200 copies each), so the full
    # id-to-id self-resolution join legitimately returns count_l*count_r
    # pairs per matching name — ~64M rows / >1 GiB at sf1, an output
    # quadratic in the duplication factor that no plan can bound (caught
    # by the round-9 sf1 sweep blowing spark.driver.maxResultSize).
    # Resolving to the name dictionary is the entity-resolution shape and
    # keeps the output linear in the dirty side at ANY scale; blocking
    # completeness and distance values are unchanged and still checked.
    canon = p.groupBy("nm").agg(F.min("p_partkey").alias("cid"))
    damaged = p.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        F.concat(
            F.col("nm").substr(F.lit(1), F.lit(2)),
            F.col("nm").substr(F.lit(4), F.length("nm")),
        ).alias("dm"),
    )
    return (
        fuzzy_join(damaged, canon, "p_partkey", "cid", "dm", "nm")
        .select("lid", "rid", F.col("dist").cast("long").alias("dist"))
        .orderBy("lid", "rid")
    )


def q145_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (dedup.substring_dedup, k=20): every token
    covered by a 20-token window duplicating an earlier-(id,pos) window is
    deleted corpus-wide — the Lee et al. 2022 dedup as an actual rewrite,
    not just the q110 statistic. Declared with use_hash=False so the
    window keys are the literal window texts and the oracle re-derives
    first-occurrence ranking, span coverage and document reassembly in
    SQL; the xxhash64 scale path is asserted equal in test_dedup."""
    d = table(spark, sf_dir, "documents")
    return dedup.substring_dedup(d, k=20, use_hash=False).orderBy("doc_id")


def q143_fuzzy_join_dist2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance-2 join (operators/fuzzy.py, two-level SymSpell
    deletion-neighborhood blocking — recall exactly 1, no cartesian
    product): every 20th part name with its 3rd character deleted and then
    the 7th character of the result deleted (edit distance <= 2 from the
    canonical) resolved back against the DISTINCT canonical-name
    dictionary (min p_partkey per name — the entity-resolution shape; see
    q127 for why the id-to-id self-join's output is quadratic in the
    fixture's name duplication: 33M rows at sf1). The oracle is the
    BRUTE-FORCE levenshtein join in DuckDB, so blocking completeness
    (recall 1 at radius 2) and the distances are both driver-checked
    against ground truth."""
    from fireworks_spark.operators.fuzzy import fuzzy_join

    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.lower("p_name").alias("nm")
    )
    canon = p.groupBy("nm").agg(F.min("p_partkey").alias("cid"))
    d1 = p.filter(F.col("p_partkey") % 20 == 0).select(
        "p_partkey",
        F.concat(
            F.col("nm").substr(F.lit(1), F.lit(2)),
            F.col("nm").substr(F.lit(4), F.length("nm")),
        ).alias("s"),
    )
    damaged = d1.select(
        "p_partkey",
        F.concat(
            F.col("s").substr(F.lit(1), F.lit(6)),
            F.col("s").substr(F.lit(8), F.length("s")),
        ).alias("dm"),
    )
    return (
        fuzzy_join(damaged, canon, "p_partkey", "cid", "dm", "nm", max_dist=2)
        .select("lid", "rid", F.col("dist").cast("long").alias("dist"))
        .orderBy("lid", "rid")
    )


def q149_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (similarity.mmr_rerank) of brute-force
    top-20 candidates for 5 queries: greedy lam=0.7 picks, k=5. The
    oracle chains one CTE per selection step — relevance from the
    quantized candidate sims, diversity from quantized pairwise cosines,
    ties to the lowest id — so every pick and every reported marginal
    score is value-checked. Scoring is exact scaled-integer arithmetic
    (mmr*1e7 = 700*sim4 - 300*ms4 on int64) in BOTH engines, so no
    decimal half-way double rounding can diverge (the r6 failure)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cand = similarity.cosine_topk(e, q, k=20)
    return (
        similarity.mmr_rerank(cand, e, k=5, lam=0.7)
        .withColumn("rk", F.col("rk").cast("long"))
        .orderBy("qid", "rk")
    )


def q105_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding column as (i, j, cov)
    rows — the whitening statistic. Each Arrow batch collapses to one
    dim x dim BLAS partial before anything moves, so the shuffle is
    bounded by dim^2 groups, not row count."""
    from fireworks_spark.operators import embedstats

    e = table(spark, sf_dir, "embeddings")
    return embedstats.covariance_matrix(e).orderBy("i", "j")


def q106_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered basis projection of every embedding through the PCA
    projection operator (distributed mean, Arrow matmul pass) with an
    INJECTED orthonormal basis: the first 8 rows of the order-64 Sylvester
    Hadamard matrix, H[k][d] = (-1)^popcount(k AND d) / 8. A closed-form
    basis makes the mean-center + matmul + round pass fully SQL-derivable,
    so the driver value-checks the projection machinery end-to-end. The
    LEARNED path (driver eig of the distributed covariance) remains the
    pca_project default, covered by tests/test_similarity.py (exact
    reconstruction on planted low-rank data, orthonormal components).
    Output is flattened to scalar pc0..pc7 columns (the driver's
    canonicalizer hashes scalar cells, not arrays)."""
    from fireworks_spark.operators import embedstats

    e = table(spark, sf_dir, "embeddings")
    basis = [
        [
            (1.0 if bin(k & d).count("1") % 2 == 0 else -1.0) / 8.0
            for d in range(64)
        ]
        for k in range(8)
    ]
    proj = embedstats.pca_project(e, k=8, components=basis)
    return proj.select(
        "vec_id", *[F.col("pc")[i].alias(f"pc{i}") for i in range(8)]
    ).orderBy("vec_id")


_Q158_VARS = [1.0, 4.0, 0.25, 16.0, 1.0, 0.0625, 4.0, 1.0]


def q158_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening (embedstats.pca_whiten) with q106's INJECTED
    Hadamard basis plus injected per-component variances: each projection
    coordinate is scaled by 1/sqrt(var_k + 1e-8), the scale folded into
    the matrix BEFORE the Arrow matmul (so the oracle multiplies each
    per-dimension term by the same pre-divided entry — term-wise, not
    post-sum, keeping the doubles identical). The LEARNED variance path
    is covered by tests/test_similarity.py (identity covariance after
    whitening)."""
    from fireworks_spark.operators import embedstats

    e = table(spark, sf_dir, "embeddings")
    basis = [
        [
            (1.0 if bin(k & d).count("1") % 2 == 0 else -1.0) / 8.0
            for d in range(64)
        ]
        for k in range(8)
    ]
    proj = embedstats.pca_whiten(
        e, k=8, components=basis, variances=_Q158_VARS
    )
    return proj.select(
        "vec_id", *[F.col("wpc")[i].alias(f"wpc{i}") for i in range(8)]
    ).orderBy("vec_id")


def q159_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar 8-bit quantization of the embedding column (pq.sq8_encode —
    the 4x memory rung below PQ's 32x): per-vector max-abs scale, clamped
    half-up codes, all JVM HOF expressions. Emits per-vector scale,
    code checksum/min/max and the max reconstruction error so the oracle
    value-checks encode AND decode; the error bound itself (err <=
    scale/2) is asserted in tests/test_pq.py."""
    from fireworks_spark.operators import pq

    e = table(spark, sf_dir, "embeddings")
    enc = pq.sq8_encode(e)
    joined = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(enc, "vec_id")
    err = F.array_max(
        F.zip_with(
            F.col("v"), pq.sq8_decode(), lambda x, y: F.abs(x - y)
        )
    )
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return joined.select(
        "vec_id",
        r4(F.col("scale")).alias("scale4"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("code_sum"),
        F.array_min("codes").cast("long").alias("code_min"),
        F.array_max("codes").cast("long").alias("code_max"),
        r4(err).alias("err4"),
    ).orderBy("vec_id")


def q109_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level originality: fraction of each doc's distinct word
    trigrams with document frequency exactly 1 (boilerplate detector)."""
    d = table(spark, sf_dir, "documents")
    return textstats.ngram_novelty(d).orderBy("doc_id")


def q107_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 30 BPE merges on the documents corpus. The corpus-scale stage
    is one map-side-combined word count; the merge loop runs driver-side
    over the bounded frequency table (every production BPE trainer's
    shape). Deterministic (count-desc + lexicographic tiebreaks) and
    fully value-checked: the oracle chains one CTE pair per greedy merge
    (pair-count + argmax, then a delimiter-guarded replace over the
    symbol strings — q108's encoding) so DuckDB re-derives all 30 merges
    from the same word-frequency table."""
    from fireworks_spark.operators import bpe

    d = table(spark, sf_dir, "documents")
    merges = bpe.train_bpe(d, num_merges=30)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string",
    ).orderBy("rank")


# q108's injected merge table: chains two-level merges (ow -> ow</w>,
# jo -> joi, er -> er</w>) so the encoder's rank-priority loop is
# genuinely exercised, over pairs frequent in the fixture vocabulary.
_Q108_MERGES = [
    ("a", "n"),
    ("o", "w"),
    ("ow", "</w>"),
    ("h", "a"),
    ("j", "o"),
    ("jo", "i"),
    ("e", "r"),
    ("er", "</w>"),
]


def q108_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with an INJECTED fixed merge table (the
    q36/q103/q106 injection pattern): BPE encoding applies merges in rank
    order, which equals applying each merge globally (leftmost-first,
    non-overlapping) in sequence — and THAT is expressible as chained
    string replaces over a delimiter-guarded symbol string, so the oracle
    re-derives every document's full subtoken stream in SQL and the
    driver value-checks the Arrow-batched encoder end-to-end (count AND
    an md5 of the joined subtokens). The LEARNED merge path stays under
    q107 (rows-only training) + tests/test_bpe.py (hand-computed
    merges)."""
    from fireworks_spark.operators import bpe

    d = table(spark, sf_dir, "documents")
    return (
        bpe.bpe_encode(d, _Q108_MERGES)
        .select(
            "doc_id",
            "n_subtokens",
            F.md5(
                F.encode(F.array_join("subtokens", " "), "UTF-8")
            ).alias("subtok_md5"),
        )
        .orderBy("doc_id")
    )


def q103_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embeddings, then within
    each cluster drop every vector whose cosine to an earlier (lower id)
    member reaches eps. Uses an INJECTED deterministic quantizer (per-label
    mean vectors, computed distributively exactly like q36's IVF coarse
    quantizer) so cluster assignment — and therefore the whole kept set —
    is SQL-derivable and the driver value-checks the per-cluster
    triangular cosine prune end-to-end. eps=0.5 (round 9, was 0.9) so the
    prune actually FIRES on the fixture — at 0.9 no pair qualified at any
    tested scale and the drop path rode on unit tests alone; at 0.5 the
    sf1 sweep drops 656 of 20k vectors through the real operator. The
    LEARNED spherical-k-means quantizer remains the semdedup default
    (paper-realistic eps included), covered by tests/test_dedup.py
    (kept set matches a full-gram Python reference exactly)."""
    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "d", "x"
            ),
        )
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cx"))
        .collect()
    )
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["d"]] = r["cx"]
    centroids = [
        [by_label[lb][d] for d in sorted(by_label[lb])]
        for lb in sorted(by_label)
    ]
    out = dedup.semdedup(e, eps=0.5, centroids=centroids)
    return out.withColumn("cluster", F.col("cluster").cast("long")).orderBy(
        "vec_id"
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def q153_gopher_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule suite (Rae et al. 2021 §A.1.1) over documents
    restructured into 8-word lines (the fixture is single-line, so the
    newline injection — a deterministic regexp both engines apply — gives
    the line-shape rules real material: bullets, ellipses, duplicate-line
    and duplicate-character fractions). Every ratio uses the portable
    floor(x*1e4+0.5)/1e4 rounding, so the oracle re-derives all ten
    statistics AND the pass verdict bit-identically."""
    d = table(spark, sf_dir, "documents")
    structured = d.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n").alias("text"),
    )
    return textstats.gopher_stats(structured).orderBy("doc_id")


def q154_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition rules (ranking.ngram_repetition): per-doc
    top-{2,3,4}-gram and duplicated-{5..10}-gram character fractions plus
    the threshold verdict, all nine computed in one per-row Arrow pass
    (no explode, no shuffle). The oracle re-derives all nine fractions
    from unnested n-gram counts — grouping in SQL where the engine
    counts per row, so the comparison also cross-checks the pass against
    an independent aggregation strategy."""
    d = table(spark, sf_dir, "documents")
    return ranking.ngram_repetition(d).orderBy("doc_id")


def q155_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (textstats.c4_line_filter) over the 8-word-
    line restructure: lines under 5 words drop (each doc's ragged final
    line, plus short docs entirely), documents reassembled from the
    survivors with kept/dropped counts — text, counts and the doc-level
    min_lines gate all value-checked via the doc_id+md5(text) projection
    the oracle re-derives with the same list pipeline."""
    d = table(spark, sf_dir, "documents")
    structured = d.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n").alias("text"),
    )
    return (
        textstats.c4_line_filter(structured, min_words_per_line=5)
        .select(
            "doc_id",
            F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
            "n_lines_kept",
            "n_lines_dropped",
        )
        .orderBy("doc_id")
    )


def q157_filtered_pretraining_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality-filtered pretraining mix chaining the round-7
    filter suite: 8-word-line restructure -> C4 line cleaning (drop ragged
    short lines, reassemble) -> Gopher word/dup-line gate (n_words >= 50,
    dup_line_frac <= 0.3) -> full n-gram repetition gate (rep_pass) ->
    exact dedup on the cleaned text (keep min doc_id per md5) -> per-
    bucket doc count + token sum. At sf0.001 the chain keeps 267 of 500
    docs with every stage discriminating. One SQL oracle re-derives the
    whole chain (the q138 composite pattern), so stage INTERACTIONS are
    value-checked, not just stages in isolation.

    Unlike q138's linear chain, this DAG FANS OUT: c4 feeds three
    branches and kept feeds both sides of the dedup self-join, so the
    shared frames are persisted (measured 72.6s -> 2.7s at sf0.1 — the
    interpreted HOF rule chains re-evaluated per branch otherwise)."""
    
    d = table(spark, sf_dir, "documents")
    structured = d.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n").alias("text"),
    )
    c4 = persist(textstats.c4_line_filter(structured, min_words_per_line=5))
    g = textstats.gopher_stats(c4)
    r = ranking.ngram_repetition(c4)
    kept = persist(
        c4.join(g.select("doc_id", "n_words", "dup_line_frac"), "doc_id")
        .join(r.select("doc_id", "rep_pass"), "doc_id")
        .filter(
            (F.col("n_words") >= 50)
            & (F.col("dup_line_frac") <= 0.3)
            & F.col("rep_pass")
        )
    )
    canon = kept.groupBy(
        F.md5(F.encode("text", "UTF-8")).alias("h")
    ).agg(F.min("doc_id").alias("doc_id"))
    final = kept.join(canon.select("doc_id"), "doc_id")
    return (
        final.groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("tok_sum"),
        )
        .orderBy("bucket")
    )


def q37_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textstats.with_token_stats(d).orderBy("doc_id")


def q38_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textstats.with_quality_score(d).orderBy("doc_id")


def q39_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textstats.with_lang_id(d).orderBy("doc_id")


def q40_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textstats.with_fingerprint(d).orderBy("doc_id")


def q41_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textstats.vocabulary(d, top_k=20)


def q48_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (first 3 components shown): the unit-vector
    prep step before cosine search. Left-fold double math mirrors the
    DuckDB list_reduce oracle bit-for-bit."""
    from fireworks_spark.functions import vector

    e = table(spark, sf_dir, "embeddings")
    n = vector.l2_norm("embedding")
    comps = [
        (
            F.round(F.element_at("embedding", i).cast("double") / n, 4)
            + F.lit(0.0)
        ).alias(f"e{i}")
        for i in (1, 2, 3)
    ]
    return e.select("vec_id", *comps).orderBy("vec_id")


def q49_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise group centroids (the k-means/IVF building block):
    posexplode to (group, dim, value), then a plain distributed avg — the
    array never funnels through a driver or a UDF."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        (F.col("vec_id") % 8).alias("g"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    return (
        ex.groupBy("g", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 4) + F.lit(0.0)).alias(
                "c"
            )
        )
        .orderBy("g", "dim")
    )


def _synthetic_pii(d: DataFrame):
    """PII-bearing text built deterministically from existing columns (the
    corpus itself contains no URLs/emails, so the declared check would
    otherwise never exercise the regexes). Mirrored verbatim in SQL."""
    return F.concat(
        F.lit("see http://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("doc_id").cast("string"),
        F.lit(" mail bob."),
        F.col("source"),
        F.lit("@mail.org call +1 (415) 555-0199 ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
        F.lit(" "),
        F.col("text"),
    )


def q44_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", textstats.mask_pii(_synthetic_pii(d)).alias("masked")
    ).orderBy("doc_id")


def q45_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.array_join(textstats.extract_urls(_synthetic_pii(d)), "|").alias(
            "urls"
        ),
    ).orderBy("doc_id")


def q137_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup: a synthetic messy URL per doc
    (uppercase scheme/host, www., default port, utm_/fbclid params mid-
    and end-query, fragments) reduced to its canonical key. Every regexp
    stays in the dialect-portable subset, so the oracle rebuilds the same
    URL and the same chain byte-for-byte (textstats.canonical_url)."""
    d = spread(table(spark, sf_dir, "documents"))
    url = F.concat(
        F.lit("HTTP://WWW."),
        F.col("source"),
        F.lit(".Example.COM:80/p"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("?utm_source=x&id="),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&fbclid=abc")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        textstats.canonical_url(url).alias("curl"),
    ).orderBy("doc_id")


def q142_domain_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources (textstats.domain_overlap)
    — exact set overlap from one tokenize+distinct pass and a token
    self-join bounded by |domains|^2 per token group."""
    d = table(spark, sf_dir, "documents")
    return textstats.domain_overlap(d).orderBy("src_a", "src_b")


def q46_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    sw = ["the", "and", "is", "of", "to", "a", "in"]
    return d.select(
        "doc_id",
        F.array_join(textstats.remove_stopwords("text", sw), " ").alias(
            "filtered"
        ),
    ).orderBy("doc_id")


def q47_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(table(spark, sf_dir, "documents"))
    tagged = F.concat(
        F.lit('<p class="body">'),
        F.col("text"),
        F.lit("</p> <br/> <div>"),
        F.col("source"),
        F.lit("</div>"),
    )
    return d.select(
        "doc_id", textstats.strip_markup(tagged).alias("clean")
    ).orderBy("doc_id")


def q98_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (the C4 "deduplicate repeated lines" filter):
    every distinct line survives only at its first (doc_id, position)
    occurrence; documents are reassembled from surviving lines. The corpus
    has no newlines, so documents are first lineated deterministically into
    4-token lines (the oracle lineates identically)."""
    d = table(spark, sf_dir, "documents")
    # Materialize the words array in its own projection and lineate over
    # the column REFERENCE: lambda bodies get no common-subexpression
    # elimination, so embedding split() in the transform re-tokenizes the
    # document once per line (the 30x trap _hashed_shingles documents —
    # measured 37s -> ~13s for this stage at 500k docs). The size filter
    # between the projections doubles as the collapse barrier, exactly
    # like _hashed_shingles.
    w = F.col("_w")
    lineated = F.array_join(
        F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(w) / F.lit(4.0)).cast("int") - 1
            ),
            lambda i: F.array_join(
                F.slice(w, (i * 4 + 1).cast("int"), 4), " "
            ),
        ),
        "\n",
    )
    lines_df = (
        # coalesce: a NULL text must survive as text='' (line_dedup's left
        # join preserves it), not be dropped by the size filter below —
        # size(split(NULL)) is NULL, which the >= 1 barrier would filter.
        d.select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("_w"),
        )
        .filter(F.size("_w") >= 1)
        .select("doc_id", lineated.alias("text"))
    )
    return dedup.line_dedup(lines_df).orderBy("doc_id")



def q115_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware split assignment: every Jaccard>=0.8 near-dup pair lands
    in the SAME of 5 splits (split = cluster anchor mod 5, singletons by
    their own id) — the eval-contamination guard of a dedup pipeline.
    Pair graph via the recall-certain LSH route of q42."""
    d = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(d, threshold=CLOSURE_JACCARD_THRESHOLD)
    out = dedup.leakage_safe_split(d, pairs, k=CLOSURE_SPLIT_K)
    return out.orderBy("doc_id")


PIPELINE_QUERIES = {
    "q115_leakage_safe_split": q115_leakage_safe_split,
    "q30_dedup_exact": q30_dedup_exact,
    "q31_dedup_ngram_jaccard": q31_dedup_ngram_jaccard,
    "q134_jaccard_join": q134_jaccard_join,
    "q135_minhash_join": q135_minhash_join,
    "q32_dedup_minhash_lsh": q32_dedup_minhash_lsh,
    "q33_dedup_simhash": q33_dedup_simhash,
    "q34_dedup_embedding_cosine": q34_dedup_embedding_cosine,
    "q42_dup_clusters": q42_dup_clusters,
    "q43_keep_canonical": q43_keep_canonical,
    "q44_pii_mask": q44_pii_mask,
    "q48_vector_normalize": q48_vector_normalize,
    "q49_centroids": q49_centroids,
    "q45_url_extract": q45_url_extract,
    "q137_url_canonicalize": q137_url_canonicalize,
    "q142_domain_overlap": q142_domain_overlap,
    "q46_stopword_filter": q46_stopword_filter,
    "q47_strip_markup": q47_strip_markup,
    "q98_line_dedup": q98_line_dedup,
    "q35_ann_cosine_topk": q35_ann_cosine_topk,
    "q149_mmr_rerank": q149_mmr_rerank,
    "q36_ann_ivf_topk": q36_ann_ivf_topk,
    "q102_ann_lsh_topk": q102_ann_lsh_topk,
    "q184_lsh_multiprobe_topk": q184_lsh_multiprobe_topk,
    "q119_pq_adc_topk": q119_pq_adc_topk,
    "q127_fuzzy_join": q127_fuzzy_join,
    "q143_fuzzy_join_dist2": q143_fuzzy_join_dist2,
    "q145_substring_dedup": q145_substring_dedup,
    "q128_ivfpq_topk": q128_ivfpq_topk,
    "q103_semdedup": q103_semdedup,
    "q105_embedding_covariance": q105_embedding_covariance,
    "q106_pca_project": q106_pca_project,
    "q158_pca_whiten": q158_pca_whiten,
    "q159_sq8_quantize": q159_sq8_quantize,
    "q107_bpe_merges": q107_bpe_merges,
    "q108_bpe_encode": q108_bpe_encode,
    "q109_ngram_novelty": q109_ngram_novelty,
    "q153_gopher_stats": q153_gopher_stats,
    "q154_ngram_repetition": q154_ngram_repetition,
    "q155_c4_line_filter": q155_c4_line_filter,
    "q157_filtered_pretraining_mix": q157_filtered_pretraining_mix,
    "q37_text_token_stats": q37_text_token_stats,
    "q38_text_quality": q38_text_quality,
    "q39_text_langid": q39_text_langid,
    "q40_text_fingerprint": q40_text_fingerprint,
    "q41_vocab_topk": q41_vocab_topk,
}

_JACCARD_SQL = (
    f"WITH {_SHINGLES_CTE} "
    "SELECT ida, idb, jac FROM jac WHERE jac >= 0.5 ORDER BY ida, idb"
)

_JACCARD_JOIN_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, array_length(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM toks WHERE array_length(w) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS lid, b.doc_id AS rid, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
),
jac AS (
  SELECT lid, rid, floor(c / (sa.sz + sb.sz - c) * 1000 + 0.5) / 1000 AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = lid
  JOIN sizes sb ON sb.doc_id = rid
)
SELECT lid, rid, jac FROM jac WHERE jac >= 0.5 ORDER BY lid, rid
"""

_JACCARD_JOIN_SQL_08 = _JACCARD_JOIN_SQL.replace("jac >= 0.5", "jac >= 0.8")

_JACCARD_SQL_08 = (
    f"WITH {_SHINGLES_CTE} "
    "SELECT ida, idb, jac FROM jac WHERE jac >= 0.8 ORDER BY ida, idb"
)

_PII_TEXT_SQL = (
    "'see http://' || source || '.example.com/' || CAST(doc_id AS VARCHAR) || "
    "' mail bob.' || source || '@mail.org call +1 (415) 555-0199 ip 10.0.0.' "
    "|| CAST(doc_id % 255 AS VARCHAR) || ' ' || text"
)

# Single source of truth for the closure family's pair threshold: the
# q42/q43/q115 Spark implementations (minhash_dedup_pairs calls), the
# recursive oracle CTE below AND tools/sf1_sweep.py's iterative union-find
# substitute all derive from it, so a recalibration cannot silently
# diverge the code under test from either ground truth.
CLOSURE_JACCARD_THRESHOLD = 0.8

# Same single-source-of-truth rule for q115's split modulus: the Spark
# query (leakage_safe_split k=), its oracle SQL (% k) and
# tools/sf1_sweep.py's union-find substitute all read this constant —
# changing k in one place cannot silently diverge the sweep's ground
# truth from the query under test.
CLOSURE_SPLIT_K = 5

_CLOSURE_CTE = (
    f"p AS (SELECT ida, idb FROM jac WHERE jac >= {CLOSURE_JACCARD_THRESHOLD}), "
    "e AS (SELECT ida AS s, idb AS d FROM p "
    "UNION SELECT idb AS s, ida AS d FROM p), "
    "v AS (SELECT DISTINCT s AS id FROM e), "
    "cc(id, lab) AS (SELECT id, id FROM v "
    "UNION SELECT e.d, cc.lab FROM cc JOIN e ON cc.id = e.s), "
    "canon AS (SELECT id, MIN(lab) AS cluster FROM cc GROUP BY id)"
)

_CLUSTERS_SQL = (
    f"WITH RECURSIVE {_SHINGLES_CTE}, {_CLOSURE_CTE} "
    "SELECT id AS doc_id, CAST(cluster AS BIGINT) AS cluster "
    "FROM canon ORDER BY doc_id"
)

_CANONICAL_SQL = (
    f"WITH RECURSIVE {_SHINGLES_CTE}, {_CLOSURE_CTE} "
    "SELECT doc_id FROM documents WHERE doc_id NOT IN "
    "(SELECT id FROM canon WHERE id <> cluster) ORDER BY doc_id"
)

# q102: the portable md5-parity sign-LSH bucket, recomputed verbatim in SQL
# (mirrors functions.vector.sign_bits(portable=True) + band_key folds).
def _lsh_bucket_sql(v: str) -> str:
    return "list_reduce(\n  list_prepend(0, list_transform(range(0, 6),\n    i -> CASE WHEN list_reduce(\n            list_prepend(0.0, list_transform(range(1, array_length({v}) + 1),\n              dd -> CAST({v}[dd] AS DOUBLE) *\n                    (CASE WHEN ('0x' || substring(md5(i || ':' || (dd - 1)), 1, 15))::BIGINT % 2 = 0\n                          THEN 1.0 ELSE -1.0 END))),\n            (acc, x) -> acc + x) > 0\n         THEN 1 ELSE 0 END)),\n  (acc, b) -> acc * 2 + b)".replace("{v}", v)


_LSH_ANN_SQL = f"""
WITH bk AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
), p AS (
  SELECT q.vec_id AS qid, b.vec_id AS nid,
         round({_cos('q.embedding', 'b.embedding')}, 4) AS sim
  FROM bk q JOIN bk b ON b.bucket = q.bucket AND b.vec_id <> q.vec_id
  WHERE q.vec_id < 10
), r AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM p
)
SELECT qid, nid, sim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""

# q184: q102's bucket computation, but candidates meet on Hamming<=1 keys
_LSH_MULTIPROBE_SQL = f"""
WITH bk AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
), p AS (
  SELECT q.vec_id AS qid, b.vec_id AS nid,
         round({_cos('q.embedding', 'b.embedding')}, 4) AS sim
  FROM bk q JOIN bk b
    ON bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.bucket AS BIGINT))) <= 1
   AND b.vec_id <> q.vec_id
  WHERE q.vec_id < 10
), r AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM p
)
SELECT qid, nid, sim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""

# q36: IVF probe with the per-label-mean quantizer — cells, probe ranking
# and the final top-k all re-derived from the raw table (q36 docstring).
_IVF_ANN_SQL = f"""
WITH ex AS (
  SELECT label, vec_id,
         unnest(range(1, array_length(embedding) + 1)) AS d,
         unnest(list_transform(range(1, array_length(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE))) AS x
  FROM embeddings
), cent AS (
  SELECT label AS pt, d, AVG(x) AS cx FROM ex GROUP BY pt, d
), cvec AS (
  SELECT pt, list(cx ORDER BY d) AS cv FROM cent GROUP BY pt
), assign AS (
  SELECT vec_id, pt FROM (
    SELECT b.vec_id, c.pt,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY {_cos('b.embedding', 'c.cv')} DESC, c.pt) AS rr
    FROM embeddings b CROSS JOIN cvec c
  ) WHERE rr = 1
), probe AS (
  SELECT qid, pt FROM (
    SELECT q.vec_id AS qid, c.pt,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos('q.embedding', 'c.cv')} DESC, c.pt) AS pr
    FROM embeddings q CROSS JOIN cvec c WHERE q.vec_id < 10
  ) WHERE pr <= 2
), p AS (
  SELECT pr.qid, b.vec_id AS nid,
         round({_cos('q.embedding', 'b.embedding')}, 4) AS sim
  FROM probe pr
  JOIN assign a ON a.pt = pr.pt
  JOIN embeddings b ON b.vec_id = a.vec_id AND b.vec_id <> pr.qid
  JOIN embeddings q ON q.vec_id = pr.qid
), r AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM p
)
SELECT qid, nid, sim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""

# q119: PQ with the per-label-mean codebooks (m=4 subspaces x 16 dims) —
# encoding (argmin code per subspace) and the ADC distance (sum of subspace
# distances looked up from the query's table) re-derived from the raw table.
_PQ_ADC_SQL = """
WITH dims AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cb AS (
  SELECT label AS code, d, d // 16 AS sub, AVG(x) AS cx
  FROM dims GROUP BY label, d
), d2 AS (
  SELECT v.vec_id, c.sub, c.code, SUM((v.x - c.cx) * (v.x - c.cx)) AS dist
  FROM dims v JOIN cb c USING (d)
  GROUP BY v.vec_id, c.sub, c.code
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist, code) AS r
    FROM d2) t WHERE r = 1
), adc AS (
  SELECT qd.vec_id AS qid, e.vec_id AS nid, ROUND(SUM(qd.dist), 4) AS dist
  FROM enc e JOIN d2 qd ON qd.sub = e.sub AND qd.code = e.code
  WHERE qd.vec_id < 10 AND e.vec_id <> qd.vec_id
  GROUP BY qd.vec_id, e.vec_id
), r AS (
  SELECT qid, nid, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk
  FROM adc
)
SELECT qid, nid, dist, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""

# q128: IVF-PQ composed — cells/probe from the per-label-mean coarse
# quantizer (q36's fragments), encoding/ADC from the per-label-mean PQ
# codebooks (q119's fragments), joined so the ADC scan touches only the
# probed cells' rows.
_IVFPQ_SQL = f"""
WITH dims AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cb AS (
  SELECT label AS code, d, d // 16 AS sub, AVG(x) AS cx
  FROM dims GROUP BY label, d
), d2 AS (
  SELECT v.vec_id, c.sub, c.code, SUM((v.x - c.cx) * (v.x - c.cx)) AS dist
  FROM dims v JOIN cb c USING (d)
  GROUP BY v.vec_id, c.sub, c.code
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist, code) AS r
    FROM d2) t WHERE r = 1
), cvec AS (
  SELECT label AS pt, list(cx ORDER BY d) AS cv
  FROM (SELECT label, d, AVG(x) AS cx FROM dims GROUP BY label, d)
  GROUP BY label
), assign AS (
  SELECT vec_id, pt FROM (
    SELECT b.vec_id, c.pt,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY {_cos('b.embedding', 'c.cv')} DESC, c.pt) AS rr
    FROM embeddings b CROSS JOIN cvec c
  ) WHERE rr = 1
), probe AS (
  SELECT qid, pt FROM (
    SELECT q.vec_id AS qid, c.pt,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos('q.embedding', 'c.cv')} DESC, c.pt) AS pr
    FROM embeddings q CROSS JOIN cvec c WHERE q.vec_id < 10
  ) WHERE pr <= 2
), adc AS (
  SELECT pr.qid, e.vec_id AS nid, ROUND(SUM(qd.dist), 4) AS dist
  FROM probe pr
  JOIN assign a ON a.pt = pr.pt
  JOIN enc e ON e.vec_id = a.vec_id
  JOIN d2 qd ON qd.sub = e.sub AND qd.code = e.code AND qd.vec_id = pr.qid
  WHERE e.vec_id <> pr.qid
  GROUP BY pr.qid, e.vec_id
), r AS (
  SELECT qid, nid, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rk
  FROM adc
)
SELECT qid, nid, dist, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""

_ANN_SQL = f"""
WITH p AS (
  SELECT q.vec_id AS qid, b.vec_id AS nid,
         round({_cos('q.embedding', 'b.embedding')}, 4) AS sim
  FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
  WHERE q.vec_id < 10
), r AS (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
  FROM p
)
SELECT qid, nid, sim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk
"""


def _mmr_sql(k: int = 5, lam: float = 0.7) -> str:
    """One CTE per greedy MMR selection step (see q149 docstring).
    Mirrors the engine's EXACT scaled-integer scoring: sims quantized to
    int64 sim4 = round(cos*1e4), lambda to lam1000, every score held as
    s7 = lam1000*sim4 - (1000-lam1000)*ms4 (= mmr*1e7, an integer), the
    argmax/row_number ranked on the integer, one s7/1e7 division in the
    final projection — so no decimal half-way double rounding exists in
    either engine (the q149 r6 failure class)."""
    lam_i = int(round(lam * 1000))
    # ROUND(cos,4)*1e4 can sit a hair under the integer in binary;
    # the outer ROUND(...,0) lands it exactly before the BIGINT cast
    sim4 = (
        f"CAST(ROUND(ROUND({_cos('q.embedding', 'b.embedding')}, 4) "
        f"* 10000, 0) AS BIGINT)"
    )
    ps4 = (
        f"CAST(ROUND(ROUND({_cos('va.embedding', 'vb.embedding')}, 4) "
        f"* 10000, 0) AS BIGINT)"
    )
    parts = [
        f"""cand AS (
  SELECT qid, nid, sim4 FROM (
    SELECT q.vec_id AS qid, b.vec_id AS nid,
           {sim4} AS sim4,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {sim4} DESC, b.vec_id) AS rk
    FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
    WHERE q.vec_id < 5
  ) WHERE rk <= 20
)""",
        f"""ps AS (
  SELECT a.qid, a.nid AS i, b.nid AS j,
         {ps4} AS s4
  FROM cand a JOIN cand b ON b.qid = a.qid
  JOIN embeddings va ON va.vec_id = a.nid
  JOIN embeddings vb ON vb.vec_id = b.nid
)""",
        f"""p1 AS (
  SELECT qid, nid, s7 FROM (
    SELECT qid, nid, {lam_i} * sim4 AS s7,
           row_number() OVER (PARTITION BY qid
             ORDER BY {lam_i} * sim4 DESC, nid) AS rn
    FROM cand) WHERE rn = 1
)""",
    ]
    for t in range(2, k + 1):
        ms = "ps.s4" if t == 2 else "greatest(m.ms4, ps.s4)"
        src = "c" if t == 2 else "m"
        frm = (
            f"cand c JOIN p1 ON p1.qid = c.qid "
            f"JOIN ps ON ps.qid = c.qid AND ps.i = c.nid AND ps.j = p1.nid"
            if t == 2
            else f"m{t - 2} m JOIN p{t - 1} ON p{t - 1}.qid = m.qid "
            f"JOIN ps ON ps.qid = m.qid AND ps.i = m.nid "
            f"AND ps.j = p{t - 1}.nid"
        )
        parts.append(
            f"""m{t - 1} AS (
  SELECT {src}.qid, {src}.nid, {src}.sim4, {ms} AS ms4
  FROM {frm}
  WHERE {src}.nid <> p{t - 1}.nid
)"""
        )
        parts.append(
            f"""p{t} AS (
  SELECT qid, nid, s7 FROM (
    SELECT qid, nid,
           {lam_i} * sim4 - {1000 - lam_i} * ms4 AS s7,
           row_number() OVER (PARTITION BY qid
             ORDER BY {lam_i} * sim4 - {1000 - lam_i} * ms4 DESC,
                      nid) AS rn
    FROM m{t - 1}) WHERE rn = 1
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT qid, CAST({t} AS BIGINT) AS rk, nid, "
        f"s7 / 10000000.0 AS mmr FROM p{t}"
        for t in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects + " ORDER BY qid, rk"

def _bpe_merges_sql(
    num_merges: int = 30, min_freq: int = 2, max_words: int = 50_000
) -> str:
    """One CTE pair per greedy BPE merge (the q149/_mmr_sql chaining
    technique applied to training): b{t} counts adjacent symbol pairs
    weighted by word frequency and picks the argmax (count desc, then
    lexicographic — train_bpe's exact tiebreak), v{t} applies the merge
    via a replace over q108's delimiter-guarded '|sym||sym|' encoding
    (leftmost non-overlapping = the Python merge loop). The chain runs
    over the bounded word-frequency table only, never the corpus; if the
    best pair drops under ``min_freq`` the b CTE is empty and every later
    step yields no rows — mirroring train_bpe's break. MATERIALIZED keeps
    DuckDB from inlining the doubly-referenced v{t} chain."""
    parts = [
        f"""wc AS MATERIALIZED (
  SELECT w, c FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> '' GROUP BY w
  ) ORDER BY c DESC, w LIMIT {max_words}
)""",
        """v0 AS MATERIALIZED (
  SELECT '|' || array_to_string(
           list_append(string_split(w, ''), '</w>'), '||') || '|' AS s, c
  FROM wc
)""",
    ]
    for t in range(1, num_merges + 1):
        prev = f"v{t - 1}"
        parts.append(
            f"""b{t} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, SUM(c) AS pc
    FROM (
      SELECT list_transform(string_split(s, '||'),
                            x -> trim(x, '|')) AS syms, c
      FROM {prev}
    ), unnest(range(1, len(syms))) AS t(i)
    GROUP BY a, b
  ) WHERE pc >= {min_freq} ORDER BY pc DESC, a, b LIMIT 1
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT replace(s, '|' || a || '||' || b || '|',
                 '|' || a || b || '|') AS s, c
  FROM {prev}, b{t}
)"""
        )
    selects = " UNION ALL ".join(
        f'SELECT CAST({t - 1} AS BIGINT) AS rank, '
        f'a AS "left", b AS "right" FROM b{t}'
        for t in range(1, num_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects + " ORDER BY rank"


_GOPHER_STOP_SQL = " + ".join(
    f"CASE WHEN list_contains(WL, '{s}') THEN 1 ELSE 0 END"
    for s in ["the", "be", "to", "of", "and", "that", "have", "with"]
)

# mirrors textstats.gopher_stats exactly: same tokenization, same
# floor(x*1e4+0.5)/1e4 rounding, same (rounded-value) pass thresholds
_GOPHER_SQL = f"""
WITH s AS (
  SELECT doc_id,
         regexp_replace(text, '((\\S+ ){{7}}\\S+) ',
                        '\\1' || chr(10), 'g') AS t
  FROM documents
), base AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(t, '\\s+'), w -> w <> '') AS W,
         list_filter(string_split(t, chr(10)), l -> l <> '') AS L
  FROM s
), wl AS (
  SELECT doc_id, t, W, L,
         list_transform(W, w -> lower(w)) AS WL,
         list_distinct(L) AS LD,
         list_aggregate(list_transform(W, w -> length(w)), 'sum') AS swl,
         list_aggregate(list_transform(L, l -> length(l)), 'sum') AS slc
  FROM base
), m AS (
  SELECT doc_id,
    CAST(len(W) AS BIGINT) AS n_words,
    CASE WHEN len(W) > 0
         THEN FLOOR(CAST(swl AS DOUBLE) / len(W) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(W) > 0
         THEN FLOOR(CAST(len(list_filter(W,
                w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
              / len(W) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS frac_alpha_words,
    CASE WHEN len(W) > 0
         THEN FLOOR(CAST(
                (length(t) - length(replace(t, '#', '')))
                + (length(t) - length(replace(t, '...', ''))) / 3
              AS DOUBLE) / len(W) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS symbol_word_ratio,
    CAST({_GOPHER_STOP_SQL} AS BIGINT) AS n_stop_hits,
    CASE WHEN len(L) > 0
         THEN FLOOR(CAST(len(list_filter(L,
                l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
              / len(L) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS frac_bullet_lines,
    CASE WHEN len(L) > 0
         THEN FLOOR(CAST(len(list_filter(L,
                l -> regexp_matches(l, '\\.\\.\\.$'))) AS DOUBLE)
              / len(L) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS frac_ellipsis_lines,
    CASE WHEN len(L) > 0
         THEN FLOOR(CAST(len(L) - len(LD) AS DOUBLE)
              / len(L) * 10000 + 0.5) / 10000
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN slc > 0
         THEN FLOOR(CAST(slc - list_aggregate(
                list_transform(LD, l -> length(l)), 'sum') AS DOUBLE)
              / slc * 10000 + 0.5) / 10000
         ELSE 0.0 END AS dup_line_char_frac
  FROM wl
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND frac_alpha_words >= 0.8 AND symbol_word_ratio <= 0.1
        AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
        AND n_stop_hits >= 2 AND dup_line_frac <= 0.3) AS gopher_pass
FROM m ORDER BY doc_id
"""

_REP_TOPS = {2: 0.20, 3: 0.18, 4: 0.16}
_REP_DUPS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _ngram_rep_sql(src: str = "documents", text: str = "text") -> str:
    """q154's oracle: per-n n-gram counts via unnest + GROUP BY (an
    aggregation strategy independent of the engine's per-row fold), same
    count>=2 repetition rule, char weights, rounding and thresholds as
    ranking.ngram_repetition. ``src``/``text`` parameterize the input so
    the composite q157 can run the identical rule block over its
    C4-cleaned text."""
    tops, dups = _REP_TOPS, _REP_DUPS
    norm = f"regexp_replace(lower(trim({text})), '\\s+', ' ', 'g')"
    parts = [
        f"""d0 AS MATERIALIZED (
  SELECT doc_id, length({text}) AS nc,
         list_filter(string_split({norm}, ' '), w -> w <> '') AS W
  FROM {src}
)"""
    ]
    for n in list(tops) + list(dups):
        parts.append(
            f"""g{n} AS (
  SELECT doc_id,
         MAX(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS top,
         SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup
  FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, unnest(list_transform(range(1, len(W) - {n} + 2),
             i -> array_to_string(list_slice(W, i, i + {n - 1}), ' ')))
             AS g
      FROM d0 WHERE len(W) >= {n}
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""
        )

    def frac(n: int, col: str) -> str:
        return (
            f"CASE WHEN d0.nc > 0 THEN FLOOR(CAST(COALESCE(g{n}.{col}, 0) "
            f"AS DOUBLE) / d0.nc * 10000 + 0.5) / 10000 ELSE 0.0 END"
        )

    sels = ["d0.doc_id"]
    conds = []
    for n, mx in tops.items():
        sels.append(f"{frac(n, 'top')} AS top_ngram_frac_{n}")
        conds.append(f"top_ngram_frac_{n} <= {mx}")
    for n, mx in dups.items():
        sels.append(f"{frac(n, 'dup')} AS dup_ngram_frac_{n}")
        conds.append(f"dup_ngram_frac_{n} <= {mx}")
    joins = " ".join(
        f"LEFT JOIN g{n} ON g{n}.doc_id = d0.doc_id"
        for n in list(tops) + list(dups)
    )
    parts.append(f"m AS (SELECT {', '.join(sels)} FROM d0 {joins})")
    parts.append(
        "rep AS (SELECT *, ("
        + " AND ".join(conds)
        + ") AS rep_pass FROM m)"
    )
    return _ctes(parts) + "\nSELECT * FROM rep ORDER BY doc_id"


def _ctes(parts: list[str]) -> str:
    return "WITH " + ",\n".join(parts)


def _ngram_rep_ctes(src: str, text: str) -> list[str]:
    """The q154 rule block as reusable CTE parts ending in ``rep``
    (doc_id, 9 fractions, rep_pass) — extracted so q157's composite
    oracle chains the IDENTICAL rules after its C4 stage."""
    sql = _ngram_rep_sql(src, text)
    body = sql[len("WITH ") : sql.rindex("\nSELECT")]
    return [body]


def _filtered_mix_sql() -> str:
    """q157's oracle: the whole restructure -> C4 -> Gopher-gate ->
    rep-gate -> exact-dedup -> bucket-aggregate chain as one WITH, built
    from the same CTE blocks the per-stage oracles use (q155's line
    pipeline, q153's dup-line rounding, q154's rule block via
    _ngram_rep_ctes)."""
    parts = [
        """s AS (
  SELECT doc_id,
         regexp_replace(text, '((\\S+ ){7}\\S+) ',
                        '\\1' || chr(10), 'g') AS t
  FROM documents
)""",
        """k AS (
  SELECT doc_id,
         list_filter(list_filter(string_split(t, chr(10)),
                                 l -> trim(l) <> ''),
                     l -> len(list_filter(
                         string_split_regex(trim(l), '\\s+'),
                         w -> w <> '')) >= 5) AS KL
  FROM s
)""",
        """c4 AS MATERIALIZED (
  SELECT doc_id, array_to_string(KL, chr(10)) AS t2
  FROM k WHERE len(KL) >= 1
)""",
        """gp AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(t2, '\\s+'),
                              w -> w <> '')) AS BIGINT) AS n_words,
         CASE WHEN len(L2) > 0
              THEN FLOOR(CAST(len(L2) - len(list_distinct(L2)) AS DOUBLE)
                   / len(L2) * 10000 + 0.5) / 10000
              ELSE 0.0 END AS dup_line_frac
  FROM (SELECT doc_id, t2,
               list_filter(string_split(t2, chr(10)),
                           l -> l <> '') AS L2
        FROM c4)
)""",
    ]
    parts += _ngram_rep_ctes("c4", "t2")
    parts += [
        """filt AS (
  SELECT c4.doc_id, c4.t2, gp.n_words
  FROM c4 JOIN gp USING (doc_id) JOIN rep USING (doc_id)
  WHERE gp.n_words >= 50 AND gp.dup_line_frac <= 0.3 AND rep.rep_pass
)""",
        """canon AS (
  SELECT MIN(doc_id) AS doc_id FROM filt GROUP BY md5(t2)
)""",
    ]
    return (
        _ctes(parts)
        + "\nSELECT CAST(f.doc_id % 10 AS BIGINT) AS bucket, "
        "COUNT(*) AS n_docs, CAST(SUM(f.n_words) AS BIGINT) AS tok_sum "
        "FROM filt f JOIN canon USING (doc_id) "
        "GROUP BY 1 ORDER BY 1"
    )


PIPELINE_ORACLE = {
    "q157_filtered_pretraining_mix": _filtered_mix_sql(),
    # q155: same restructure, line filter, reassembly and min-doc gate
    # via DuckDB's list pipeline; md5 of the reassembled UTF-8 text
    "q155_c4_line_filter": f"""
        WITH s AS (
          SELECT doc_id,
                 regexp_replace(text, '((\\S+ ){{7}}\\S+) ',
                                '\\1' || chr(10), 'g') AS t
          FROM documents
        ), b AS (
          SELECT doc_id,
                 list_filter(string_split(t, chr(10)),
                             l -> trim(l) <> '') AS L
          FROM s
        ), k AS (
          SELECT doc_id, L,
                 list_filter(L, l -> len(list_filter(
                     string_split_regex(trim(l), '\\s+'),
                     w -> w <> '')) >= 5) AS KL
          FROM b
        )
        SELECT doc_id,
               md5(array_to_string(KL, chr(10))) AS text_md5,
               CAST(len(KL) AS BIGINT) AS n_lines_kept,
               CAST(len(L) - len(KL) AS BIGINT) AS n_lines_dropped
        FROM k WHERE len(KL) >= 1 ORDER BY doc_id
    """,
    "q154_ngram_repetition": _ngram_rep_sql(),
    "q153_gopher_stats": _GOPHER_SQL,
    "q107_bpe_merges": _bpe_merges_sql(num_merges=30),
    "q115_leakage_safe_split": (
        f"WITH RECURSIVE {_SHINGLES_CTE}, {_CLOSURE_CTE} "
        "SELECT d.doc_id, "
        f"CAST(COALESCE(canon.cluster, d.doc_id) % {CLOSURE_SPLIT_K} "
        "AS BIGINT) AS split "
        "FROM documents d LEFT JOIN canon ON canon.id = d.doc_id "
        "ORDER BY d.doc_id"
    ),

    "q30_dedup_exact": (
        f"SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt FROM documents "
        f"GROUP BY md5({_NORM}) ORDER BY keep_id"
    ),
    "q31_dedup_ngram_jaccard": _JACCARD_SQL,
    "q134_jaccard_join": _JACCARD_JOIN_SQL,
    "q135_minhash_join": _JACCARD_JOIN_SQL_08,
    # LSH candidates verified by exact jaccard: at threshold 0.8 the banded
    # collision probability is >= 1 - 3e-8 per pair, so candidates == exact
    # pairs and the oracle is the exact-Jaccard SQL at the same threshold.
    "q32_dedup_minhash_lsh": _JACCARD_SQL_08,
    # q33 simhash: signatures re-derived in SQL from the same md5-based
    # 60-bit token hash (portable_token_hash60); the Spark side's banded
    # blocking has exact recall at Hamming<=3 (pigeonhole), so the
    # all-pairs SQL is a true value oracle, not an approximation.
    "q33_dedup_simhash": f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
        th AS (
            SELECT doc_id,
                   ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
            FROM toks
        ),
        bits AS (
            SELECT doc_id, bb.b AS b,
                   SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM th, (SELECT unnest(range(60)) AS b) bb
            GROUP BY doc_id, bb.b
        ),
        sig AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                   AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY ida, idb
    """,
    "q109_ngram_novelty": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, array_length(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
            FROM toks WHERE array_length(w) >= 3
        ),
        dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               floor(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END::DOUBLE)
                     * 10000 + 0.5) / 10000 + 0.0 AS novel_frac
        FROM sh JOIN dfreq USING (g)
        GROUP BY doc_id ORDER BY doc_id
    """,
    "q105_embedding_covariance": """
        WITH e AS (
            SELECT CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        tr AS (SELECT unnest(flatten(list_transform(range(len(v)), i ->
                   list_transform(range(len(v)), j ->
                       struct_pack(i := i, j := j, p := v[i+1]*v[j+1])))))
                   AS s FROM e),
        x AS (SELECT s.i::INT AS i, s.j::INT AS j, avg(s.p) AS exy
              FROM tr GROUP BY 1, 2),
        mm AS (SELECT unnest(list_transform(range(len(v)), i ->
                   struct_pack(i := i, x := v[i+1]))) AS s FROM e),
        m AS (SELECT s.i::INT AS i, avg(s.x) AS m FROM mm GROUP BY 1)
        SELECT x.i, x.j, ROUND(exy - mi.m * mj.m, 4) + 0.0 AS cov
        FROM x JOIN m mi ON x.i = mi.i JOIN m mj ON x.j = mj.i
        ORDER BY x.i, x.j
    """,
    "q34_dedup_embedding_cosine": f"""
        WITH p AS (
          SELECT a.vec_id AS ida, b.vec_id AS idb,
                 round({_cos('a.embedding', 'b.embedding')}, 4) AS sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        )
        SELECT ida, idb, sim FROM p WHERE sim >= 0.5 ORDER BY ida, idb
    """,
    # q103: the injected per-label-mean quantizer re-derived from the raw
    # table (q36's cent/cvec/assign fragments), then the SemDeDup rule —
    # drop a member iff ANY lower-id member of the SAME cluster (kept or
    # dropped, the paper's upper-triangular rule) has cosine >= eps.
    "q103_semdedup": f"""
        WITH ex AS (
          SELECT label, vec_id,
                 unnest(range(1, array_length(embedding) + 1)) AS d,
                 unnest(list_transform(range(1, array_length(embedding) + 1),
                        i -> CAST(embedding[i] AS DOUBLE))) AS x
          FROM embeddings
        ), cent AS (
          SELECT label AS pt, d, AVG(x) AS cx FROM ex GROUP BY pt, d
        ), cvec AS (
          SELECT pt, list(cx ORDER BY d) AS cv FROM cent GROUP BY pt
        ), assign AS (
          SELECT vec_id, pt FROM (
            SELECT b.vec_id, c.pt,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY ROUND({_cos('b.embedding', 'c.cv')}, 4)
                              DESC, c.pt) AS rr
            FROM embeddings b CROSS JOIN cvec c
          ) WHERE rr = 1
        ), dropped AS (
          SELECT DISTINCT a2.vec_id
          FROM assign a1
          JOIN assign a2 ON a1.pt = a2.pt AND a1.vec_id < a2.vec_id
          JOIN embeddings e1 ON e1.vec_id = a1.vec_id
          JOIN embeddings e2 ON e2.vec_id = a2.vec_id
          WHERE ROUND({_cos('e1.embedding', 'e2.embedding')}, 4) >= 0.5
        )
        SELECT a.vec_id, CAST(a.pt AS BIGINT) AS cluster
        FROM assign a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
        ORDER BY a.vec_id
    """,
    # q106: the injected Hadamard basis H[k][d] = (-1)^popcount(k AND d)/8
    # re-derived in SQL (bit_count), mean-centering from the same table.
    "q106_pca_project": """
        WITH dims AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings WHERE embedding IS NOT NULL
        ), mn AS (
          SELECT d, AVG(x) AS mx FROM dims GROUP BY d
        ), proj AS (
          SELECT v.vec_id, t.k,
                 FLOOR(SUM((v.x - m.mx) *
                       (CASE WHEN bit_count(CAST(t.k AS BIGINT)
                                            & CAST(v.d AS BIGINT)) % 2 = 0
                             THEN 1.0 ELSE -1.0 END) / 8.0)
                       * 10000 + 0.5) / 10000 + 0.0 AS p
          FROM dims v JOIN mn m USING (d)
          CROSS JOIN range(0, 8) t(k)
          GROUP BY v.vec_id, t.k
        )
        SELECT vec_id,
               MAX(CASE WHEN k = 0 THEN p END) AS pc0,
               MAX(CASE WHEN k = 1 THEN p END) AS pc1,
               MAX(CASE WHEN k = 2 THEN p END) AS pc2,
               MAX(CASE WHEN k = 3 THEN p END) AS pc3,
               MAX(CASE WHEN k = 4 THEN p END) AS pc4,
               MAX(CASE WHEN k = 5 THEN p END) AS pc5,
               MAX(CASE WHEN k = 6 THEN p END) AS pc6,
               MAX(CASE WHEN k = 7 THEN p END) AS pc7
        FROM proj GROUP BY vec_id ORDER BY vec_id
    """,
    # q159: SQ8 re-derived element-wise with the identical portable
    # floor half-up rounding and clamp; err from the zipped difference
    "q159_sq8_quantize": """
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE embedding IS NOT NULL
        ), s AS (
          SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
          FROM v
        ), c AS (
          SELECT vec_id, e, sc,
                 CASE WHEN sc = 0
                      THEN list_transform(e, x -> 0)
                      ELSE list_transform(e, x -> GREATEST(-127,
                             LEAST(127, CAST(FLOOR(x / sc + 0.5) AS INT))))
                 END AS codes
          FROM s
        )
        SELECT vec_id,
               FLOOR(sc * 10000 + 0.5) / 10000 AS scale4,
               CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
               CAST(list_min(codes) AS BIGINT) AS code_min,
               CAST(list_max(codes) AS BIGINT) AS code_max,
               FLOOR(list_max(list_transform(range(1, len(e) + 1),
                     i -> abs(e[i] - codes[i] * sc)))
                     * 10000 + 0.5) / 10000 AS err4
        FROM c ORDER BY vec_id
    """,
    # q158: q106's projection with each matrix entry pre-divided by
    # sqrt(var_k + 1e-8) — term-wise like the engine's scaled basis, so
    # every per-dimension product is the identical double
    "q158_pca_whiten": """
        WITH dims AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings WHERE embedding IS NOT NULL
        ), mn AS (
          SELECT d, AVG(x) AS mx FROM dims GROUP BY d
        ), proj AS (
          SELECT v.vec_id, t.k,
                 FLOOR(SUM((v.x - m.mx) *
                       ((CASE WHEN bit_count(CAST(t.k AS BIGINT)
                                             & CAST(v.d AS BIGINT)) % 2 = 0
                              THEN 1.0 ELSE -1.0 END) / 8.0
                        / sqrt((CASE t.k WHEN 0 THEN 1.0 WHEN 1 THEN 4.0
                                WHEN 2 THEN 0.25 WHEN 3 THEN 16.0
                                WHEN 4 THEN 1.0 WHEN 5 THEN 0.0625
                                WHEN 6 THEN 4.0 ELSE 1.0 END) + 1e-8)))
                       * 10000 + 0.5) / 10000 + 0.0 AS p
          FROM dims v JOIN mn m USING (d)
          CROSS JOIN range(0, 8) t(k)
          GROUP BY v.vec_id, t.k
        )
        SELECT vec_id,
               MAX(CASE WHEN k = 0 THEN p END) AS wpc0,
               MAX(CASE WHEN k = 1 THEN p END) AS wpc1,
               MAX(CASE WHEN k = 2 THEN p END) AS wpc2,
               MAX(CASE WHEN k = 3 THEN p END) AS wpc3,
               MAX(CASE WHEN k = 4 THEN p END) AS wpc4,
               MAX(CASE WHEN k = 5 THEN p END) AS wpc5,
               MAX(CASE WHEN k = 6 THEN p END) AS wpc6,
               MAX(CASE WHEN k = 7 THEN p END) AS wpc7
        FROM proj GROUP BY vec_id ORDER BY vec_id
    """,
    "q42_dup_clusters": _CLUSTERS_SQL,
    "q43_keep_canonical": _CANONICAL_SQL,
    "q44_pii_mask": (
        f"WITH s AS (SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents) "
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(t, "
        "'https?://[^\\s<>\"'']+', '<URL>', 'g'), "
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
        "'\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'), "
        "'\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS masked "
        "FROM s ORDER BY doc_id"
    ),
    "q137_url_canonicalize": """
        WITH raw AS (
          SELECT doc_id,
                 'HTTP://WWW.' || source || '.Example.COM:80/p' ||
                 CAST(doc_id % 7 AS VARCHAR) || '?utm_source=x&id=' ||
                 CAST(doc_id AS VARCHAR) ||
                 CASE WHEN doc_id % 3 = 0 THEN '&fbclid=abc' ELSE '' END ||
                 CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS u
          FROM documents
        ),
        s1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS a FROM raw),
        s2 AS (SELECT doc_id, regexp_replace(a,
                 '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1', 'g') AS a
               FROM s1),
        s3 AS (SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(a,
                   '&&+', '&', 'g'), '\\?&', '?'), '[?&]+$', '') AS a
               FROM s2),
        s4 AS (SELECT doc_id,
                 regexp_replace(regexp_replace(
                     lower(regexp_extract(a,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*')),
                     '^([a-z0-9+.-]+://)www\\.', '\\1'), ':80$|:443$', '')
                 || regexp_replace(a,
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS a
               FROM s3)
        SELECT doc_id,
               regexp_replace(a, '^([^?]*[^/?])/$', '\\1') AS curl
        FROM s4 ORDER BY doc_id
    """,
    "q142_domain_overlap": f"""
        WITH v AS (
          SELECT DISTINCT source AS d, unnest({_TOKS}) AS t
          FROM documents
        ),
        v2 AS (SELECT d, t FROM v WHERE t <> ''),
        sz AS (SELECT d, COUNT(*) AS s FROM v2 GROUP BY d),
        i AS (
          SELECT a.d AS src_a, b.d AS src_b, COUNT(*) AS c
          FROM v2 a JOIN v2 b ON a.t = b.t AND a.d < b.d
          GROUP BY 1, 2
        )
        SELECT src_a, src_b,
               floor(c * 1.0 / (sa.s + sb.s - c) * 10000 + 0.5) / 10000 AS jac
        FROM i JOIN sz sa ON sa.d = src_a JOIN sz sb ON sb.d = src_b
        ORDER BY src_a, src_b
    """,
    "q45_url_extract": (
        f"WITH s AS (SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents) "
        "SELECT doc_id, array_to_string("
        "regexp_extract_all(t, 'https?://[^\\s<>\"'']+'), '|') AS urls "
        "FROM s ORDER BY doc_id"
    ),
    "q46_stopword_filter": (
        f"SELECT doc_id, array_to_string(list_filter({_TOKS}, "
        "t -> NOT list_contains(['the','and','is','of','to','a','in'], t)"
        "), ' ') AS filtered FROM documents ORDER BY doc_id"
    ),
    "q48_vector_normalize": (
        "WITH n AS (SELECT vec_id, embedding, sqrt(list_reduce("
        "list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "(a, b) -> a + b)) AS nrm FROM embeddings) "
        "SELECT vec_id, "
        "ROUND(CAST(embedding[1] AS DOUBLE) / nrm, 4) + 0.0 AS e1, "
        "ROUND(CAST(embedding[2] AS DOUBLE) / nrm, 4) + 0.0 AS e2, "
        "ROUND(CAST(embedding[3] AS DOUBLE) / nrm, 4) + 0.0 AS e3 "
        "FROM n ORDER BY vec_id"
    ),
    "q49_centroids": (
        "WITH e AS (SELECT vec_id % 8 AS g, embedding, "
        "unnest(range(1, array_length(embedding) + 1)) AS dim FROM embeddings) "
        "SELECT g, CAST(dim AS BIGINT) AS dim, "
        "ROUND(AVG(CAST(embedding[dim] AS DOUBLE)), 4) + 0.0 AS c "
        "FROM e GROUP BY g, dim ORDER BY g, dim"
    ),
    "q47_strip_markup": (
        "WITH s AS (SELECT doc_id, '<p class=\"body\">' || text || "
        "'</p> <br/> <div>' || source || '</div>' AS t FROM documents) "
        "SELECT doc_id, trim(regexp_replace(regexp_replace(t, "
        "'<[^>]{0,256}>', ' ', 'g'), '\\s+', ' ', 'g')) AS clean "
        "FROM s ORDER BY doc_id"
    ),
    "q98_line_dedup": """
        WITH s AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        lin AS (
          SELECT doc_id,
                 list_transform(
                   range(CAST(ceil(len(w) / 4.0) AS BIGINT)),
                   i -> array_to_string(list_slice(w, i*4 + 1, i*4 + 4), ' ')
                 ) AS lines
          FROM s
        ),
        l AS (
          SELECT doc_id, unnest(lines) AS line,
                 generate_subscripts(lines, 1) AS pos
          FROM lin
        ),
        k AS (
          SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) AS rn
          FROM l
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS kept_text,
                 count(*) AS n_kept
          FROM k WHERE rn = 1 GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.kept_text, '') AS text,
               CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """,
    "q35_ann_cosine_topk": _ANN_SQL,
    "q36_ann_ivf_topk": _IVF_ANN_SQL,
    "q149_mmr_rerank": _mmr_sql(k=5, lam=0.7),
    "q102_ann_lsh_topk": _LSH_ANN_SQL,
    "q184_lsh_multiprobe_topk": _LSH_MULTIPROBE_SQL,
    "q119_pq_adc_topk": _PQ_ADC_SQL,
    "q128_ivfpq_topk": _IVFPQ_SQL,
    "q127_fuzzy_join": """
        WITH P AS (
            SELECT min(p_partkey) AS rid, lower(p_name) AS rs
            FROM part GROUP BY lower(p_name)
        ), D AS (
            SELECT p_partkey AS lid,
                   substr(lower(p_name), 1, 2) || substr(lower(p_name), 4)
                   AS ls
            FROM part WHERE p_partkey % 10 = 0
        ), LK AS (
            SELECT lid, unnest(list_append(
                list_transform(range(1, length(ls) + 1),
                               i -> substr(ls, 1, i - 1) || substr(ls, i + 1)),
                ls)) AS key
            FROM D
        ), RK AS (
            SELECT rid, unnest(list_append(
                list_transform(range(1, length(rs) + 1),
                               i -> substr(rs, 1, i - 1) || substr(rs, i + 1)),
                rs)) AS key
            FROM P
        ), cand AS (
            SELECT DISTINCT lid, rid FROM LK JOIN RK USING (key)
        )
        SELECT c.lid, c.rid,
               CAST(levenshtein(d.ls, p.rs) AS BIGINT) AS dist
        FROM cand c JOIN D d USING (lid) JOIN P p USING (rid)
        WHERE levenshtein(d.ls, p.rs) <= 1
        ORDER BY lid, rid
    """,
    # q108: the injected merge table applied as chained string replaces
    # over a '|'-delimited symbol string ('|' never appears in the fixture
    # alphabet, and '|sym_a||sym_b|' representations of adjacent symbols
    # share no characters, so DuckDB's leftmost-first non-overlapping
    # replace() equals the encoder's same-rank merge order exactly).
    "q108_bpe_encode": """
        WITH w AS (
          SELECT doc_id, pos, wd FROM (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) AS pos,
                   unnest(string_split(text, ' ')) AS wd
            FROM documents
          ) WHERE wd <> ''
        ), s0 AS (
          SELECT doc_id, pos,
                 '|' || array_to_string(
                     list_append(string_split(wd, ''), '</w>'), '||')
                 || '|' AS s
          FROM w
        ),
        s1 AS (SELECT doc_id, pos, replace(s, '|a||n|', '|an|') AS s FROM s0),
        s2 AS (SELECT doc_id, pos, replace(s, '|o||w|', '|ow|') AS s FROM s1),
        s3 AS (SELECT doc_id, pos,
                      replace(s, '|ow||</w>|', '|ow</w>|') AS s FROM s2),
        s4 AS (SELECT doc_id, pos, replace(s, '|h||a|', '|ha|') AS s FROM s3),
        s5 AS (SELECT doc_id, pos, replace(s, '|j||o|', '|jo|') AS s FROM s4),
        s6 AS (SELECT doc_id, pos, replace(s, '|jo||i|', '|joi|') AS s FROM s5),
        s7 AS (SELECT doc_id, pos, replace(s, '|e||r|', '|er|') AS s FROM s6),
        s8 AS (SELECT doc_id, pos,
                      replace(s, '|er||</w>|', '|er</w>|') AS s FROM s7),
        enc AS (
          SELECT doc_id, pos,
                 string_split(substr(s, 2, length(s) - 2), '||') AS subs
          FROM s8
        ), agg AS (
          SELECT doc_id, flatten(list(subs ORDER BY pos)) AS all_subs
          FROM enc GROUP BY doc_id
        )
        SELECT doc_id, CAST(len(all_subs) AS BIGINT) AS n_subtokens,
               md5(array_to_string(all_subs, ' ')) AS subtok_md5
        FROM agg ORDER BY doc_id
    """,
    # q145: first-occurrence ranking of every 20-token window, coverage of
    # redundant occurrences, and per-document reassembly re-derived in SQL.
    "q145_substring_dedup": f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS} AS w FROM documents
        ), occ AS (
          SELECT doc_id, t.p,
                 array_to_string(w[t.p + 1 : t.p + 20], ' ') AS key
          FROM toks, unnest(range(0, len(w) - 19)) t(p)
        ), red AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p,
                   row_number() OVER (PARTITION BY key
                                      ORDER BY doc_id, p) AS rn
            FROM occ
          ) WHERE rn > 1
        ), cov AS (
          SELECT DISTINCT doc_id, p + u.i AS pos, TRUE AS c
          FROM red, unnest(range(0, 20)) u(i)
        ), tokpos AS (
          SELECT doc_id, t.i - 1 AS pos, w[t.i] AS tok
          FROM toks, unnest(range(1, len(w) + 1)) t(i)
        ), kept AS (
          SELECT tp.doc_id, tp.pos, tp.tok
          FROM tokpos tp
          LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
          WHERE cov.c IS NULL
        ), reb AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id, COALESCE(r.text, '') AS text,
               CAST(len(t.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN reb r USING (doc_id)
        ORDER BY t.doc_id
    """,
    # q143: the oracle is the BRUTE-FORCE levenshtein join — ground truth
    # for the two-level deletion blocking (recall must be exactly 1).
    "q143_fuzzy_join_dist2": """
        WITH P AS (
            SELECT min(p_partkey) AS rid, lower(p_name) AS rs
            FROM part GROUP BY lower(p_name)
        ), D1 AS (
            SELECT p_partkey AS lid,
                   substr(lower(p_name), 1, 2) || substr(lower(p_name), 4)
                   AS s
            FROM part WHERE p_partkey % 20 = 0
        ), D AS (
            SELECT lid, substr(s, 1, 6) || substr(s, 8) AS ls FROM D1
        )
        SELECT d.lid, p.rid,
               CAST(levenshtein(d.ls, p.rs) AS BIGINT) AS dist
        FROM D d JOIN P p ON levenshtein(d.ls, p.rs) <= 2
        ORDER BY lid, rid
    """,
    "q37_text_token_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(array_length({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                    AS n_subtokens
        FROM documents ORDER BY doc_id
    """,
    "q38_text_quality": f"""
        WITH f AS (
          SELECT doc_id,
                 CAST(array_length({_TOKS}) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                   AS punct,
                 CAST(len(regexp_extract_all({_NORM},
                   '\\b(the|and|is|of|to|a|in)\\b')) AS BIGINT) AS stop
          FROM documents
        )
        SELECT doc_id, n_tokens,
               floor(CAST(n_chars AS DOUBLE) / n_tokens * 100 + 0.5) / 100
                 AS avg_tok_len,
               floor(CAST(punct AS DOUBLE) / n_tokens * 1000 + 0.5) / 1000
                 AS punct_ratio,
               floor(CAST(stop AS DOUBLE) / n_tokens * 1000 + 0.5) / 1000
                 AS stop_ratio,
               (n_tokens >= 5 AND n_tokens <= 100000
                AND floor(CAST(n_chars AS DOUBLE) / n_tokens * 100 + 0.5)
                    / 100 <= 20)
                 AS keep
        FROM f ORDER BY doc_id
    """,
    "q39_text_langid": f"""
        WITH c AS (
          SELECT doc_id,
            len(regexp_extract_all({_NORM}, '\\b(the|and|is|of|to|a|in)\\b')) AS en,
            len(regexp_extract_all({_NORM}, '\\b(le|la|les|des|et|une|est)\\b')) AS fr,
            len(regexp_extract_all({_NORM}, '\\b(der|die|das|und|ist|ein|nicht)\\b')) AS de,
            len(regexp_extract_all({_NORM}, '\\b(el|los|de|que|y|es|una)\\b')) AS es,
            len(regexp_extract_all(text, '[\\x{{4E00}}-\\x{{9FFF}}]')) AS cjk
          FROM documents
        )
        SELECT doc_id,
          CASE WHEN cjk > 0 THEN 'zh'
               WHEN en >= fr AND en >= de AND en >= es THEN 'en'
               WHEN fr >= de AND fr >= es THEN 'fr'
               WHEN de >= es THEN 'de'
               ELSE 'es' END AS pred_lang
        FROM c ORDER BY doc_id
    """,
    "q40_text_fingerprint": (
        f"SELECT doc_id, substring(md5({_NORM}), 1, 16) AS fp "
        "FROM documents ORDER BY doc_id"
    ),
    "q41_vocab_topk": f"""
        SELECT token, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token ORDER BY freq DESC, token LIMIT 20
    """,
}
