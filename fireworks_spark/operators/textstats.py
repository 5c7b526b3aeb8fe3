"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting. All JVM-side expressions (regexp_count, split, md5)
— no Python in the per-document path, so these run at corpus scale as pure
map stages with zero shuffle.

Counterpart of the reference's text helpers (fireworks/toolbox/text.py:7-116)
generalized to the operations an LLM training-data pipeline needs.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fireworks_spark.operators.spread import spread
from fireworks_spark.functions.rounding import pround
from fireworks_spark.functions.text import normalize_text, words
from fireworks_spark.session import persist

_log = logging.getLogger(__name__)

# language -> stopword alternation used by the n-gram/stopword language
# heuristic; mirrored verbatim in the DuckDB oracle (queries_pipeline.py)
LANG_STOPWORDS = {
    "en": r"\b(the|and|is|of|to|a|in)\b",
    "fr": r"\b(le|la|les|des|et|une|est)\b",
    "de": r"\b(der|die|das|und|ist|ein|nicht)\b",
    "es": r"\b(el|los|de|que|y|es|una)\b",
}
CJK_PATTERN = "[一-鿿]"
PUNCT_PATTERN = r"[.,;:!?]"


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count of letter-runs, digit-runs, and
    punctuation marks (a cheap, deterministic proxy for subword counts)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")).cast("long")


def with_token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    df = spread(df)
    return df.select(
        id_col,
        F.length(text_col).cast("long").alias("n_chars_calc"),
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_subtokens"),
    )


def with_quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a boolean
    keep-flag — the classic pre-training quality filter shape."""
    df = spread(df)
    n_tok = token_count(text_col)
    n_chars = F.length(text_col).cast("long")
    punct = F.regexp_count(F.col(text_col), F.lit(PUNCT_PATTERN)).cast("long")
    stop = F.regexp_count(normalize_text(text_col), F.lit(LANG_STOPWORDS["en"])).cast("long")
    # pround, NOT F.round: these are integer quotients, where Spark's
    # shortest-string rounding diverges from DuckDB's true-binary-value
    # rounding at .5 boundaries (199/40 — caught by the sf1 sweep)
    avg_tok_len = pround(n_chars.cast("double") / n_tok, 2)
    punct_ratio = pround(punct.cast("double") / n_tok, 3)
    stop_ratio = pround(stop.cast("double") / n_tok, 3)
    keep = (n_tok >= 5) & (n_tok <= 100000) & (avg_tok_len <= 20)
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        avg_tok_len.alias("avg_tok_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        keep.alias("keep"),
    )


# the 8 Gopher stop words (Rae et al. 2021, Table A1): a document must
# contain at least GOPHER_MIN_STOP_HITS of them to pass the filter
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOP_HITS = 2


def _r4(x: Column) -> Column:
    """floor(x*1e4+0.5)/1e4 — the repo's engine-portable 4-decimal rounding
    (identical IEEE expression in Spark and any SQL oracle; see
    embedstats.pca_project)."""
    return F.floor(x * 10000 + F.lit(0.5)) / 10000


def gopher_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher quality-rule statistics (Rae et al. 2021,
    arXiv:2112.11446 §A.1.1 — the pre-training filter suite MassiveText
    used, and the shape C4/RefinedWeb/Dolma filters share):

    - word count, mean word length, fraction of words with an alphabetic
      character, symbol-to-word ratio ('#' and '...'),
    - count of the 8 Gopher stop words present,
    - line-shape rules: fraction of bullet-started and ellipsis-ended
      lines, duplicate-line fraction and duplicate-line CHARACTER fraction
      (all occurrences beyond a line's first are duplicates),
    - ``gopher_pass``: the conjunction at the paper's thresholds
      (50 <= words <= 100k, 3 <= mean len <= 10, >= 80% alpha words,
      symbol ratio <= 0.1, <= 90% bullet lines, <= 30% ellipsis lines,
      >= 2 stop words, duplicate-line fraction <= 0.30).

    Entirely per-row JVM expressions (split / filter / aggregate HOFs in
    whole-stage codegen) — a pure map stage, zero shuffle at any scale.
    Ratios use the floor(x*1e4+0.5)/1e4 portable rounding so the SQL
    oracle reproduces every value bit-identically; the pass flag compares
    the ROUNDED ratios, keeping the verdict engine-portable too."""
    df = spread(df)
    t = F.col(text_col)
    W = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n_words = F.size(W).cast("long")
    sum_wlen = F.aggregate(
        F.transform(W, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = F.when(
        n_words > 0, _r4(sum_wlen.cast("double") / n_words)
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(W, lambda w: w.rlike("[A-Za-z]")))
    frac_alpha = F.when(
        n_words > 0, _r4(n_alpha.cast("double") / n_words)
    ).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, _r4((n_hash + n_ellipsis).cast("double") / n_words)
    ).otherwise(F.lit(0.0))
    WL = F.transform(W, F.lower)
    n_stop = sum(
        (
            F.when(F.array_contains(WL, s), 1).otherwise(0)
            for s in GOPHER_STOPWORDS
        ),
        F.lit(0),
    ).cast("long")
    L = F.filter(F.split(t, "\n"), lambda l: l != "")
    n_lines = F.size(L)
    frac_bullet = F.when(
        n_lines > 0,
        _r4(
            F.size(
                F.filter(L, lambda l: l.rlike(r"^\s*[-*•]"))
            ).cast("double")
            / n_lines
        ),
    ).otherwise(F.lit(0.0))
    frac_ell_lines = F.when(
        n_lines > 0,
        _r4(
            F.size(F.filter(L, lambda l: l.rlike(r"\.\.\.$"))).cast(
                "double"
            )
            / n_lines
        ),
    ).otherwise(F.lit(0.0))
    dup_lines = n_lines - F.size(F.array_distinct(L))
    dup_line_frac = F.when(
        n_lines > 0, _r4(dup_lines.cast("double") / n_lines)
    ).otherwise(F.lit(0.0))
    line_chars = F.aggregate(
        F.transform(L, F.length), F.lit(0), lambda a, x: a + x
    )
    distinct_chars = F.aggregate(
        F.transform(F.array_distinct(L), F.length),
        F.lit(0),
        lambda a, x: a + x,
    )
    dup_char_frac = F.when(
        line_chars > 0,
        _r4((line_chars - distinct_chars).cast("double") / line_chars),
    ).otherwise(F.lit(0.0))
    out = df.select(
        id_col,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        symbol_ratio.alias("symbol_word_ratio"),
        n_stop.alias("n_stop_hits"),
        frac_bullet.alias("frac_bullet_lines"),
        frac_ell_lines.alias("frac_ellipsis_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
    )
    gpass = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
        & (F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (F.col("dup_line_frac") <= 0.3)
    )
    return out.withColumn("gopher_pass", gpass)


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    require_terminal_punct: bool = False,
    drop_patterns: list[str] | None = None,
    min_lines: int = 1,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines with at least ``min_words_per_line`` words, optionally only
    lines ending in terminal punctuation (. ! ? or closing quote), and
    drop lines matching any of ``drop_patterns`` (case-insensitive regexp
    — C4 used javascript/cookie/policy markers). Documents are
    reassembled from surviving lines; documents left with fewer than
    ``min_lines`` lines are dropped entirely (C4 dropped docs under 3
    sentences). Returns (id_col, text, n_lines_kept, n_lines_dropped).

    WITHIN-document line surgery only — pure per-row split/filter/join
    HOFs in codegen, zero shuffle (the cross-corpus companion is
    dedup.line_dedup, which dedups lines corpus-wide)."""
    t = F.col(text_col)
    L = F.filter(F.split(t, "\n"), lambda l: F.trim(l) != "")
    # composed predicates must stay ONE-argument callables: F.filter
    # inspects the lambda's arity, so closures capture via factories,
    # never default args
    def _and(p, q):
        return lambda l: p(l) & q(l)

    keep = lambda l: F.size(  # noqa: E731
        F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != "")
    ) >= min_words_per_line
    if require_terminal_punct:
        keep = _and(keep, lambda l: l.rlike(r"[.!?\"']$"))
    for pat in drop_patterns or []:
        keep = _and(
            keep,
            (lambda _pat: lambda l: ~F.lower(l).rlike(_pat.lower()))(pat),
        )
    kept = F.filter(L, keep)
    out = spread(df).select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(L) - F.size(kept)).cast("long").alias("n_lines_dropped"),
    )
    return out.filter(F.col("n_lines_kept") >= min_lines)


def with_lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword/CJK-heuristic language ID. Ties break in fixed order
    en > fr > de > es; any CJK character wins 'zh'."""
    df = spread(df)
    t = normalize_text(text_col)
    cnt = {k: F.regexp_count(t, F.lit(pat)) for k, pat in LANG_STOPWORDS.items()}
    cjk = F.regexp_count(F.col(text_col), F.lit(CJK_PATTERN))
    pred = (
        F.when(cjk > 0, "zh")
        .when((cnt["en"] >= cnt["fr"]) & (cnt["en"] >= cnt["de"]) & (cnt["en"] >= cnt["es"]), "en")
        .when((cnt["fr"] >= cnt["de"]) & (cnt["fr"] >= cnt["es"]), "fr")
        .when(cnt["de"] >= cnt["es"], "de")
        .otherwise("es")
    )
    return df.select(id_col, pred.alias("pred_lang"))


def with_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit hex document fingerprint of the canonical (normalized) text —
    stable across whitespace/case variants; join key for cross-corpus exact
    dedup."""
    df = spread(df)
    return df.select(
        id_col,
        F.substring(F.md5(normalize_text(text_col)), 1, 16).alias("fp"),
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", top_k: int | None = None
) -> DataFrame:
    """Corpus vocabulary with frequencies (make_vocabulary, reference
    fireworks/toolbox/text.py:84-98) — explode + count, one shuffle."""
    v = (
        df.select(F.explode(words(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    v = v.orderBy(F.desc("freq"), "token")
    return v.limit(top_k) if top_k else v


def make_indices(
    df: DataFrame, text_col: str = "text", top_k: int | None = None
) -> DataFrame:
    """Token -> contiguous index, most-frequent-first with lexicographic
    tie-break (make_indices, reference fireworks/toolbox/text.py:92-98).
    The vocab is small post-aggregation, so the global row_number window is
    over the aggregated table, never the corpus."""
    from pyspark.sql import Window

    v = vocabulary(df, text_col)
    idx = (
        v.withColumn(
            "idx",
            (
                F.row_number().over(Window.orderBy(F.desc("freq"), "token")) - 1
            ).cast("long"),
        )
        .select("token", "idx")
        .orderBy("idx")
    )
    return idx.limit(top_k) if top_k else idx


# --------------------------------------------------------------------------
# cleaning / redaction (map-only, zero shuffle)
# --------------------------------------------------------------------------

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s<>\"']+"
IPV4_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_PATTERN = r"\+?\d[\d\s().-]{7,}\d"
MARKUP_PATTERN = r"<[^>]{0,256}>"


def mask_pii(col: Column | str) -> Column:
    """Redact emails, URLs, IPv4s, and phone-shaped numbers with typed
    placeholder tokens — the standard pre-training scrub. Order matters:
    URLs first (they may embed @ and digits), then emails, IPs, phones."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, URL_PATTERN, "<URL>")
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_PATTERN, "<IP>")
    return F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")


def extract_urls(col: Column | str) -> Column:
    """All URLs in the document, in order (ARRAY<STRING>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(URL_PATTERN), 0)


def strip_markup(col: Column | str) -> Column:
    """Drop HTML/XML tags (bounded-length match so an unclosed '<' cannot
    make the regex scan the whole document) and collapse the whitespace
    the removal leaves behind."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(c, MARKUP_PATTERN, " "), r"\s+", " ")
    )


def remove_stopwords(col: Column | str, stopwords: list[str]) -> Column:
    """Token array minus a stopword list: tokenize once, filter with a
    literal-array membership test (no join — the list compiles into the
    expression)."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.filter(words(col), lambda t: ~F.array_contains(sw, t))


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Corpus-level originality score: the fraction of each document's
    DISTINCT word n-grams that appear in no other document (and in no other
    position pool — document frequency exactly 1). Low scores flag
    boilerplate/templated text; the quality-filter complement of the
    jaccard/minhash dedup family. Documents with fewer than ``n`` words are
    absent from the output (they have no n-grams).

    Returns (id_col, n_grams, novel_frac).

    Scale: tokenize once into a materialized array, explode distinct
    n-grams, one map-side-combined document-frequency agg on the gram key
    (hot boilerplate grams collapse before the shuffle), join back on gram
    — each (gram, doc) row meets exactly one frequency row, so no hot key —
    then a per-doc agg. String grams, not hashes, so a DuckDB oracle can
    replicate bit-for-bit."""
    from fireworks_spark.operators.dedup import ngrams_of

    df = spread(df)
    w = df.select(id_col, words(text_col).alias("w")).filter(F.size("w") >= n)
    grams = w.select(
        id_col, F.explode(F.array_distinct(ngrams_of(F.col("w"), n))).alias("g")
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (
                pround(
                    F.avg(F.when(F.col("df") == 1, 1.0).otherwise(0.0)), 4
                )
                + F.lit(0.0)
            ).alias("novel_frac"),
        )
    )


def canonical_url(col: Column | str) -> Column:
    """Canonicalize a URL for dedup/grouping — the crawl-pipeline step that
    makes 'HTTP://WWW.Example.com:80/a?utm_source=x&id=1#top' and
    'http://example.com/a?id=1' the same key. Steps, in order:

    1. drop the #fragment;
    2. drop tracking params (utm_*, fbclid, gclid) wherever they appear;
    3. tidy separators the removal leaves ('?&' -> '?', trailing ? / &);
    4. lowercase scheme://host and strip a leading www.;
    5. strip default ports (:80 / :443);
    6. strip a bare trailing slash on a query-less path.

    Pure regexp/string expression — runs in whole-stage codegen, and every
    pattern stays in the dialect-portable subset (no lookaround), so ANSI
    engines reproduce the key byte-for-byte (q137's oracle does).
    """
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")
    # keep the captured separator, then collapse the doubles it leaves
    u = F.regexp_replace(
        u, r"([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*", r"$1"
    )
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    head = F.lower(F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0))
    tail = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    head = F.regexp_replace(head, r"^([a-z0-9+.-]+://)www\.", r"$1")
    head = F.regexp_replace(head, r":80$|:443$", "")
    u = F.concat(head, tail)
    return F.regexp_replace(u, r"^([^?]*[^/?])/$", r"$1")


def url_dedup(
    df: DataFrame, url_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per canonical URL (minimum id wins) — exact dedup on
    the canonicalized key: one hash shuffle, partial-aggregated."""
    keyed = df.withColumn("_curl", canonical_url(url_col))
    keep = keyed.groupBy("_curl").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, [id_col, "_curl"], "left_semi").drop("_curl")


# single-scan regime cutover for domain_overlap: estimated input bytes
# above which the one-tokenize collect_set shape replaces the redundant
# multi-scan shape. Measured r16 (see OPTIMIZATION_r16.md): the multi-scan
# shape wins at sf0.1/sf1/sf3 (0.6-18 MB inputs — scans are cheap and
# fully parallel; the ObjectHashAggregate(collect_set) + persist
# serializes the hot path), and its disadvantage SHRINKS as scans grow.
# The crossover was not reached at any locally testable size, so the
# cutover sits above the sf3 fixture by an order of magnitude; at true
# corpus scale (where 4 redundant corpus scans dominate everything else)
# the single-scan regime takes over. Override per call via single_scan=.
DOMAIN_OVERLAP_SINGLE_SCAN_BYTES = 512 * 1024 * 1024


def _estimated_input_bytes(df: DataFrame) -> int:
    """Catalyst's estimate of the plan's input size (file bytes for a
    parquet scan) — the routing signal for scan-count-sensitive regimes.
    Falls back to 0 (= small) when the estimate is unavailable, and logs
    that it did."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        _log.warning(
            "input size estimate unavailable; routing as 0 bytes (small)",
            exc_info=True,
        )
        return 0


def domain_overlap(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    single_scan: "bool | None" = None,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between domains: (src_a, src_b, jac) for
    every unordered domain pair — the corpus-analysis step behind mixing
    decisions ("how redundant are these two sources?").

    Two physical regimes, same exact values (size-routed on the input's
    estimated bytes, ``single_scan`` forces one for A/B):

    - multi-scan (small inputs): one tokenize + distinct pass defines the
      (domain, token) vocabulary; pair intersections come from a
      self-equi-join ON TOKEN (at most |domains|^2 rows per token group —
      skew-free for a handful of domains) and union sizes from per-domain
      counts. The vocabulary subtree executes for the sizes aggregate and
      both join sides, so the corpus is scanned 4x — cheap and fully
      parallel below the cutover (measured faster at every local SF, r15
      + r16 A/Bs).
    - single-scan (large inputs): ONE tokenize pass into
      groupBy(token).collect_set(domain) (persisted); pair intersections
      explode from the sorted per-token domain set in-task and sizes
      re-derive from the same frame — 4 corpus scans -> 1, 12 Exchanges
      -> ~6. The redundant-scan cost grows linearly with corpus size
      while the pair/size metadata does not, so past the cutover this is
      the 100 TB shape (guide §2.4).

    Values are exact; jac rounds to 4 for cross-engine comparison.
    """
    if single_scan is None:
        single_scan = (
            _estimated_input_bytes(df) >= DOMAIN_OVERLAP_SINGLE_SCAN_BYTES
        )
    if single_scan:
        toksets = persist(
            spread(df)
            .select(
                F.col(by).alias("_d"), F.explode(words(text_col)).alias("_t")
            )
            .filter(F.col("_t") != "")
            .groupBy("_t")
            .agg(F.array_sort(F.collect_set("_d")).alias("_ds"))
        )
        sizes = (
            toksets.select(F.explode("_ds").alias("_d"))
            .groupBy("_d")
            .agg(F.count(F.lit(1)).alias("_sz"))
        )
        # all unordered pairs from the sorted per-token domain set,
        # expanded in-task: element i pairs with every later element
        pair_expr = (
            "flatten(transform(_ds, (x, i) -> "
            "transform(slice(_ds, i + 2, size(_ds) - i - 1), "
            "y -> struct(x AS src_a, y AS src_b))))"
        )
        inter = (
            toksets.filter(F.size("_ds") >= 2)
            .select(F.explode(F.expr(pair_expr)).alias("_p"))
            .select("_p.src_a", "_p.src_b")
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        out = (
            inter.join(
                F.broadcast(
                    sizes.select(
                        F.col("_d").alias("src_a"), F.col("_sz").alias("_sa")
                    )
                ),
                "src_a",
            )
            .join(
                F.broadcast(
                    sizes.select(
                        F.col("_d").alias("src_b"), F.col("_sz").alias("_sb")
                    )
                ),
                "src_b",
            )
            .select(
                "src_a",
                "src_b",
                pround(
                    F.col("_c") / (F.col("_sa") + F.col("_sb") - F.col("_c")),
                    4,
                ).alias("jac"),
            )
        )
        return out
    vocab = (
        spread(df)
        .select(F.col(by).alias("_d"), F.explode(words(text_col)).alias("_t"))
        .filter(F.col("_t") != "")
        .distinct()
    )
    sizes = vocab.groupBy("_d").agg(F.count(F.lit(1)).alias("_sz"))
    a = vocab.select(F.col("_d").alias("src_a"), "_t")
    b = vocab.select(F.col("_d").alias("src_b"), "_t")
    inter = (
        a.join(b, "_t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("_d").alias("src_a"), F.col("_sz").alias("_sa"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_d").alias("src_b"), F.col("_sz").alias("_sb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            pround(
                F.col("_c") / (F.col("_sa") + F.col("_sb") - F.col("_c")), 4
            ).alias("jac"),
        )
    )
