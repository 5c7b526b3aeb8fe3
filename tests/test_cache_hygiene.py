"""Cache-leak audit (VERDICT r11 #6): every frame the package persists goes
through the registry helper ``fireworks_spark.session.persist``, so that
release_caches(result) leaves ZERO cached blocks behind — without the
spark.catalog.clearCache() backstop bench.py runs between queries (which
would mask a leak). The source scan below enforces the one-helper rule for
every module; the query sweep checks the release end to end.

The probe is the session CacheManager: DataFrame.persist registers the
plan there at call time (materialized or not) and unpersist removes it, so
``cacheManager().isEmpty()`` is a complete leak detector for the
DataFrame-level persists this package uses (RDD-level persist is not used
anywhere in fireworks_spark).
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import fireworks_spark

# One query per persist-bearing operator family (dedup shingles, minhash
# bands, simhash signatures, cross-corpus join, connected components,
# leakage split, line/substring dedup, Misra-Gries sketch, hashed
# classifier, strata rebalance, C4+mix chain).
PERSIST_QUERIES = [
    "q30_dedup_exact",
    "q34_dedup_embedding_cosine",
    "q43_keep_canonical",
    "q103_semdedup",
    "q134_jaccard_join",
    "q110_chunk_dup_stats",
    "q88_decontaminate",
    "q129_bloom_decontaminate",
    "q31_dedup_ngram_jaccard",
    "q32_dedup_minhash_lsh",
    "q33_dedup_simhash",
    "q135_minhash_join",
    "q42_dup_clusters",
    "q115_leakage_safe_split",
    "q98_line_dedup",
    "q145_substring_dedup",
    "q100_heavy_hitters",
    "q112_mg_heavy_hitters",
    "q136_hashed_score",
    "q113_rebalance_strata",
    "q157_filtered_pretraining_mix",
    "q138_pretraining_mix",
    # row-index/running-total family (found leaking by the r12
    # full-registry sweep)
    "q53_interleave",
    "q58_hstack",
    "q59_row_index",
    "q86_pack_sequences",
    "q140_negative_samples",
    "q147_media_dup_pairs",
    "q184_lsh_multiprobe_topk",
]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_release_caches_sweeps_clean(spark, sf_dir):
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.registry import QUERIES

    missing = [n for n in PERSIST_QUERIES if n not in QUERIES]
    assert not missing, f"audit list names unknown queries: {missing}"

    # start clean so a leak is attributable to the query under test
    spark.catalog.clearCache()
    assert _cache_is_empty(spark)

    leaked = []
    for name in PERSIST_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        release_caches(df)
        if not _cache_is_empty(spark):
            leaked.append(name)
            spark.catalog.clearCache()  # isolate subsequent queries
    assert not leaked, (
        f"queries left cached plans after release_caches: {leaked} — an "
        "operator cached a frame without going through "
        "fireworks_spark.session.persist"
    )


def test_only_the_registry_helper_persists():
    """Every ``.persist(``/``.cache(`` call in the package sits inside
    ``session.persist``; any other call site caches a frame that
    release_caches never hears of."""
    root = pathlib.Path(fireworks_spark.__file__).parent
    raw = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = {
            id(n)
            for f in tree.body
            if path == root / "session.py"
            and isinstance(f, ast.FunctionDef)
            and f.name == "persist"
            for n in ast.walk(f)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and id(node) not in allowed
            ):
                raw.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not raw, (
        f"{len(raw)} call(s) cache a frame outside session.persist, so "
        f"release_caches cannot free it: {raw}"
    )


def test_cache_manager_probe_detects_a_leak(spark, sf_dir):
    """Self-test of the detector: an unreleased persist must be seen."""
    from fireworks_spark.tables import table

    spark.catalog.clearCache()
    d = table(spark, sf_dir, "nation").persist()
    try:
        assert not _cache_is_empty(spark)
    finally:
        d.unpersist()
    assert _cache_is_empty(spark)
