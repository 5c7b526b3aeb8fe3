"""Dedup operator unit tests on tiny inline corpora, including a bit-exact
Python reference check of SimHash (token hashes sourced from Spark's own
xxhash64 so both sides share the base hash)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fireworks_spark.operators import dedup

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "completely different text with no overlap at all"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "short"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_word_ngrams_short_doc_yields_empty(spark):
    df = spark.createDataFrame([("one two",), ("a",), ("",)], ["text"])
    out = df.select(dedup.word_ngrams("text", 3).alias("g")).collect()
    assert all(r.g == [] for r in out)


def test_exact_dedup_groups(docs):
    rows = {r.keep_id: r.dup_cnt for r in dedup.exact_dedup(docs).collect()}
    assert rows[0] == 2  # docs 0 and 3
    assert rows[1] == 1 and rows[2] == 1


def test_jaccard_pairs_exact_values(docs):
    rows = dedup.jaccard_pairs(docs, threshold=0.1).collect()
    got = {(r.ida, r.idb): r.jac for r in rows}
    # docs 0/3 identical -> jac 1.0 (both orderings of the dup group)
    assert got[(0, 3)] == 1.0
    # docs 0/1 share 6 of their 7 shingles each: |inter|=6, |union|=8
    assert got[(0, 1)] == round(6 / 8, 3)
    assert (0, 2) not in got


def test_jaccard_df_cap_drops_only_candidates_not_values(docs):
    # cap=1 removes every shared shingle from candidate generation,
    # so no pairs survive; values themselves are never approximated
    assert dedup.jaccard_pairs(docs, threshold=0.1, df_cap=1).count() == 0
    # cap large enough: same result as uncapped
    a = sorted(map(tuple, dedup.jaccard_pairs(docs, 0.1).collect()))
    b = sorted(map(tuple, dedup.jaccard_pairs(docs, 0.1, df_cap=100).collect()))
    assert a == b


def test_blocked_hamming_matches_bruteforce(spark):
    # Wide radius on a short signature (8 of 24 -> 2/3-bit band keys)
    # routes to the blocked all-pairs popcount; verify the full pair set
    # against a Python brute force, duplicates included (id expansion).
    import itertools
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1 << 24)) for i in range(300)]
    rows += [(1000 + i, rows[i][1]) for i in range(20)]  # exact dup sigs
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.ida, r.idb): r.hamming
        for r in dedup.hamming_pairs(df, 8, num_bits=24).collect()
    }
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        h = bin(sa ^ sb).count("1")
        if h <= 8:
            want[(min(ia, ib), max(ia, ib))] = h
    assert got == want


def test_blocked_hamming_multiblock_task_algebra(spark):
    """The fused blocked route's block/role/task-key algebra (round 14):
    with block_size forced tiny, every distinct signature fans out to
    nb > 1 upper-triangle tasks, and off-diagonal/diagonal emission must
    still produce exactly the brute-force pair set — including exact-dup
    signatures (Hamming-0 internal pairs from the diagonal task) and a
    duplicated (id, sig) input row (no self-pair, old self-join
    contract). The sf-scale sweeps exercise nb ~ 13 via the oracle; this
    pins the algebra at unit scale where a wrong task key or role split
    is directly attributable."""
    import itertools
    import random

    from fireworks_spark.operators.dedup import _blocked_hamming_id_pairs

    rng = random.Random(21)
    rows = [(i, rng.randrange(1 << 20)) for i in range(240)]
    rows += [(2000 + i, rows[i][1]) for i in range(12)]  # exact dup sigs
    rows += [(5, rows[5][1])]  # duplicated (id, sig) row: no self-pair
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    ids = df.selectExpr("doc_id AS id", "simhash AS _sig")
    out = _blocked_hamming_id_pairs(ids, 6, block_size=16)  # nb ~ 15
    collected = out.collect()
    got = {(r.ida, r.idb): r.hamming for r in collected}
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if ia == ib:
            continue
        h = bin(sa ^ sb).count("1")
        if h <= 6:
            want[(min(ia, ib), max(ia, ib))] = h
    assert got == want
    # exact row count: each pair must be emitted by exactly ONE task — a
    # wrong task key or role split that double-emits would vanish in the
    # dict collapse above (the duplicated (5, sig) input row legitimately
    # doubles id-5's cross pairs, so count those in)
    n_expected = len(want) + sum(
        1 for (a, b) in want if a == 5 or b == 5
    )
    assert len(collected) == n_expected
    assert all(a < b for a, b in got)  # strict: no self-loops


def test_prefix_candidates_survive_corpus_wide_boilerplate(spark):
    # Two identical documents whose EVERY shingle is corpus-wide
    # boilerplate (df=80): the round-9 sf1 sweep showed any global df-cap
    # silently loses such pairs once the corpus outgrows the cap. The
    # AllPairs prefix-filtered default must still find them — its recall
    # guarantee is scale-independent.
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} unique{i} filler{i} token{i}") for i in range(78)]
    rows += [(100, boiler), (101, boiler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.ida, r.idb): r.jac for r in
           dedup.jaccard_pairs(df, threshold=0.9).collect()}
    assert got == {(100, 101): 1.0}
    # the legacy capped path drops all-hot pairs — kept only as an
    # explicitly requested recall-trading knob
    assert dedup.jaccard_pairs(df, threshold=0.9, df_cap=64).count() == 0
    # cross-corpus face, same guarantee (union-wide frequency order)
    joined = {(r.lid, r.rid): r.jac for r in dedup.jaccard_join(
        df.filter(F.col("doc_id") % 2 == 0),
        df.filter(F.col("doc_id") % 2 == 1),
        threshold=0.9,
    ).collect()}
    assert joined == {(100, 101): 1.0}


def test_minhash_lsh_finds_planted_dups(docs):
    pairs = {(r.ida, r.idb) for r in dedup.minhash_dedup_pairs(docs, 0.7).collect()}
    assert (0, 3) in pairs  # identical pair always collides
    assert (0, 1) in pairs  # jac 0.75 >= 0.7 with near-certain band collision
    assert all(ida < idb for ida, idb in pairs)


def test_simhash_matches_python_reference(spark, docs):
    """Bit-exact check: token hashes come from Spark's xxhash64, the
    sign-accumulate/re-pack is reproduced in plain Python."""
    present = docs.filter(F.col("text") != "")
    toks = (
        present.select(
            "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.xxhash64("tok"))
        .collect()
    )
    expected: dict[int, int] = {}
    byid: dict[int, list] = {}
    for r in toks:
        byid.setdefault(r.doc_id, []).append((r.h, r.cnt))
    for did, items in byid.items():
        acc = [0] * 64
        for h, cnt in items:
            for b in range(64):
                bit = (h >> b) & 1  # arithmetic shift on negative h: Python
                if h < 0:
                    bit = ((h + (1 << 64)) >> b) & 1
                acc[b] += cnt if bit else -cnt
        sig = sum(1 << b for b in range(64) if acc[b] > 0)
        # Spark packs into a signed long
        expected[did] = sig - (1 << 64) if sig >= (1 << 63) else sig
    got = {r.doc_id: r.simhash for r in dedup.simhash64(present).collect()}
    assert got == expected


def test_simhash_pairs_hamming(docs):
    out = {(r.ida, r.idb): r.hamming for r in dedup.simhash_pairs(docs, 16).collect()}
    assert out[(0, 3)] == 0  # identical docs, identical simhash
    assert (0, 1) in out  # near-dup within 16 bits
    assert (0, 2) not in out or out[(0, 2)] > 16


def test_embedding_dup_pairs_lsh_matches_bruteforce(spark):
    import itertools
    import math
    import random

    rnd = random.Random(7)
    base = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    # plant near-dups: 3 vectors as slightly-perturbed copies
    for i in range(3):
        base.append([x + rnd.gauss(0, 0.05) for x in base[i]])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)], "vec_id long, embedding array<double>"
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    truth = {
        (i, j)
        for i, j in itertools.combinations(range(len(base)), 2)
        if round(cos(base[i], base[j]), 4) >= 0.9
    }
    got = {(r.ida, r.idb) for r in dedup.embedding_dup_pairs(df, 0.9).collect()}
    assert got == truth and len(truth) == 3


def test_dup_clusters_chain_clique_isolated(spark):
    # chain 0-1-2-3-4-5 (diameter 5), clique {10,11,12}, edge {20,21}
    edges = [(i, i + 1) for i in range(5)]
    edges += [(10, 11), (10, 12), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "ida long, idb long")
    got = {r.id: r.cluster for r in dedup.dup_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_keep_canonical_drops_non_minimum(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [0, 1, 2, 3, 10, 11, 99]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "ida long, idb long"
    )
    kept = sorted(r.doc_id for r in dedup.keep_canonical(docs, pairs).collect())
    assert kept == [0, 3, 10, 99]


def test_decontaminate_removes_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shares 'a b c' with bench -> dropped
            (2, "x y z w v"),       # clean -> kept
            (3, "q r s t u"),       # clean -> kept
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a b c zz yy")], ["doc_id", "text"]
    )
    kept = sorted(
        r.doc_id for r in dedup.decontaminate(corpus, bench).collect()
    )
    assert kept == [2, 3]


def test_contamination_report_graded_fractions(spark):
    """Graded overlap: doc sharing half its 3-grams with the bench reports
    0.5; full overlap 1.0; none 0.0; a too-short doc reports 0 shingles
    and is never contaminated."""
    bench = spark.createDataFrame(
        [(100, "a b c d")], ["doc_id", "text"]  # shingles: 'a b c', 'b c d'
    )
    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),       # both shingles hit -> 1.0
            (2, "a b c x y"),     # 'a b c' of 3 shingles -> 0.3333
            (3, "p q r s"),       # no overlap -> 0.0
            (4, "xy"),            # < 3 tokens -> no shingles
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.n_shingles, r.overlap_frac, r.contaminated)
        for r in dedup.contamination_report(
            corpus, bench, n=3, threshold=0.5
        ).collect()
    }
    assert out[1] == (2, 1.0, True)
    assert out[2] == (3, 0.3333, False)
    assert out[3] == (2, 0.0, False)
    assert out[4] == (0, 0.0, False)


def test_bloom_bitset_no_false_negatives(spark):
    vals = spark.createDataFrame([(i,) for i in range(500)], ["v"])
    bits = dedup.bloom_bitset(vals, "v", num_bits=1 << 12, k=5)
    assert len(bits) == (1 << 12) // 64
    # every inserted value must probe positive (Bloom guarantee)
    hits = vals.where(dedup.bloom_might_contain("v", bits, k=5)).count()
    assert hits == 500


def test_bloom_filters_most_non_members(spark):
    vals = spark.createDataFrame([(i,) for i in range(500)], ["v"])
    bits = dedup.bloom_bitset(vals, "v", num_bits=1 << 17, k=5)
    others = spark.createDataFrame(
        [(i,) for i in range(10_000, 20_000)], ["v"]
    )
    fp = others.where(dedup.bloom_might_contain("v", bits, k=5)).count()
    # m=2^17, n=500, k=5 -> theoretical fpr ~ 2e-9; allow generous slack
    assert fp <= 5


def test_bloom_broadcast_path_matches_literal_path(spark):
    """Above literal_max_bytes the probe switches from a plan-embedded
    array Literal to a broadcast variable + vectorized Arrow lookup;
    membership decisions must be identical (positions are the same
    JVM-side xxhash64 either way). Threshold forced to 0 to exercise the
    broadcast path at test size."""
    vals = spark.createDataFrame([(i,) for i in range(500)], ["v"])
    bits = dedup.bloom_bitset(vals, "v", num_bits=1 << 12, k=5)
    probe = spark.createDataFrame([(i,) for i in range(2000)], ["v"])
    lit_hits = sorted(
        r.v
        for r in probe.where(dedup.bloom_might_contain("v", bits, k=5))
        .collect()
    )
    bc_hits = sorted(
        r.v
        for r in probe.where(
            dedup.bloom_might_contain("v", bits, k=5, literal_max_bytes=0)
        ).collect()
    )
    assert lit_hits == bc_hits
    assert set(range(500)) <= set(bc_hits)  # no false negatives


def test_bloom_broadcast_cached_per_bitset_and_releasable(spark):
    """Repeated probes of the SAME bitset above the literal threshold
    must reuse ONE cached broadcast (no per-call executor copies), and
    release_bloom_broadcasts() must clear the cache without breaking
    later probes (they re-broadcast)."""
    dedup.release_bloom_broadcasts()
    vals = spark.createDataFrame([(i,) for i in range(100)], ["v"])
    bits = dedup.bloom_bitset(vals, "v", num_bits=1 << 10, k=3)
    probe = spark.createDataFrame([(i,) for i in range(200)], ["v"])
    n1 = probe.where(
        dedup.bloom_might_contain("v", bits, k=3, literal_max_bytes=0)
    ).count()
    assert len(dedup._BLOOM_BROADCASTS) == 1
    n2 = probe.where(
        dedup.bloom_might_contain("v", bits, k=3, literal_max_bytes=0)
    ).count()
    assert n1 == n2
    assert len(dedup._BLOOM_BROADCASTS) == 1  # reused, not re-broadcast
    dedup.release_bloom_broadcasts()
    assert not dedup._BLOOM_BROADCASTS
    n3 = probe.where(
        dedup.bloom_might_contain("v", bits, k=3, literal_max_bytes=0)
    ).count()
    assert n3 == n1  # probes after release still work


def test_bloom_decontaminate_equals_exact(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shares 'a b c' with bench -> dropped
            (2, "x y z w v"),       # clean -> kept
            (3, "q r s t u"),       # clean -> kept
            (4, "zz yy a b c"),     # shares 'a b c' -> dropped
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a b c zz yy")], ["doc_id", "text"]
    )
    exact = sorted(
        r.doc_id for r in dedup.decontaminate(corpus, bench).collect()
    )
    bloom = sorted(
        r.doc_id
        for r in dedup.bloom_decontaminate(corpus, bench).collect()
    )
    assert bloom == exact == [2, 3]


def test_bloom_probe_is_scan_stage_filter(spark):
    """The Bloom probe must be a plain Filter over the shingle projection —
    no Join or Exchange between the corpus scan and the prefilter."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], ["doc_id", "text"]
    )
    bits = dedup.bloom_bitset(
        dedup.shingle_table(corpus, "doc_id", "text", 3), "shingle"
    )
    probed = dedup.shingle_table(corpus, "doc_id", "text", 3).where(
        dedup.bloom_might_contain("shingle", bits)
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_mix_sample_deterministic_rates(spark):
    from fireworks_spark.operators.toolbox import mix_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 1000 else "b") for i in range(2000)],
        ["doc_id", "source"],
    )
    out = mix_sample(
        df, {"a": 0.25}, default_rate=1.0, denom=1000
    )
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert counts == {"a": 250, "b": 1000}
    # deterministic: same rows every run
    ids1 = sorted(r.doc_id for r in out.filter("source='a'").collect())
    ids2 = sorted(r.doc_id for r in out.filter("source='a'").collect())
    assert ids1 == ids2 == list(range(250))


def test_dup_clusters_distributed_path_matches_local(spark):
    # two components: {1,2,3} chained, {10,11}; force the distributed
    # label-propagation path with local_edge_limit=0 and cross-check it
    # against the driver-side union-find path
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["ida", "idb"]
    )
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    local = {
        (r.id, r.cluster) for r in dedup.dup_clusters(pairs).collect()
    }
    distributed = {
        (r.id, r.cluster)
        for r in dedup.dup_clusters(pairs, local_edge_limit=0).collect()
    }
    assert local == want and distributed == want


def test_line_dedup_keeps_first_occurrence_only(spark):
    d = spark.createDataFrame(
        [
            (1, "alpha\nboiler\nbeta"),
            (2, "boiler\ngamma\nboiler"),   # cross-doc dup + in-doc repeat
            (3, "boiler"),                   # fully deduped away
            (4, "delta\ndelta"),             # in-doc dup keeps first copy
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_kept"])
        for r in dedup.line_dedup(d).collect()
    }
    assert out == {
        1: ("alpha\nboiler\nbeta", 3),
        2: ("gamma", 1),
        3: ("", 0),
        4: ("delta", 1),
    }


def test_substring_dedup_removes_repeated_spans(spark):
    """ExactSubstr removal with k=3: the duplicated 3-token span survives
    only at its first (id, pos) occurrence; overlapping duplicate windows
    merge into one maximal removed span; short docs untouched."""
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over it"),
            (2, "intro text the quick brown fox jumps away"),  # 5-token dup span
            (3, "tiny doc"),                                   # < k, untouched
            (4, "the quick brown"),                            # exactly one dup window
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in dedup.substring_dedup(d, k=3).collect()
    }
    # doc 2: windows over 'the quick brown fox jumps' all duplicate doc 1's
    # -> positions 2..6 covered, keeping 'intro text' and 'away'
    assert out[1] == ("the quick brown fox jumps over it", 0)
    assert out[2] == ("intro text away", 5)
    assert out[3] == ("tiny doc", 0)
    assert out[4] == ("", 3)


def test_substring_dedup_hash_path_matches_string_path(spark, docs):
    a = dedup.substring_dedup(docs, k=8, use_hash=True).orderBy("doc_id")
    b = dedup.substring_dedup(docs, k=8, use_hash=False).orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_substring_dedup_in_doc_repeats(spark):
    """A span repeated inside ONE document keeps only its first copy."""
    d = spark.createDataFrame(
        [(1, "a b c x y a b c z w")], "doc_id long, text string"
    )
    out = dedup.substring_dedup(d, k=3).collect()[0]
    assert out["text"] == "a b c x y z w" and out["n_removed"] == 3


def test_rowwise_minhash_equals_grouped_minhash(docs):
    a = dedup.minhash_signatures(docs, num_hashes=8).orderBy("doc_id")
    b = dedup.minhash_signatures_rowwise(docs, num_hashes=8).orderBy("doc_id")
    assert a.columns == b.columns
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_semdedup_matches_python_reference(spark):
    """Differential check of the full SemDeDup pipeline (train -> assign ->
    triangular prune) against a plain-numpy reference with a FULL gram
    matrix — also exercises the blocked-gram path's masking logic."""
    import numpy as np

    rng = np.random.default_rng(7)
    dirs = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]])
    vecs = []
    for i in range(60):
        if i % 4 == 3:  # isotropic noise rows
            v = rng.normal(size=3)
        else:  # planted near-dup groups around the 3 axes
            v = dirs[i % 4] + rng.normal(scale=0.01, size=3)
        vecs.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    eps, k, seed = 0.95, 3, 42
    got = sorted(
        r.vec_id for r in dedup.semdedup(df, eps, k, seed=seed).collect()
    )

    # reference: same quantizer code, full-gram triangular prune
    from fireworks_spark.operators.similarity import _spherical_kmeans

    X = np.array([v for _, v in vecs])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = _spherical_kmeans(X, k, seed)
    # 4-decimal cosines, matching the operator's cross-engine convention
    assign = np.argmax(np.round(Xn @ C.T, 4), axis=1)
    kept = []
    for c in set(assign.tolist()):
        ids = [i for i in range(len(vecs)) if assign[i] == c]
        M = np.round(Xn[ids] @ Xn[ids].T, 4)
        for pos, i in enumerate(ids):
            if pos == 0 or M[:pos, pos].max() < eps:
                kept.append(i)
    assert got == sorted(kept)
    # planted groups actually collapsed: far fewer kept than input rows
    assert len(got) < 40


def test_semdedup_keeps_everything_at_eps_above_1(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = dedup.semdedup(df, eps=1.1, num_clusters=2)
    assert sorted(r.vec_id for r in out.collect()) == list(range(10))


def test_chunk_dup_stats_closed_form(spark):
    """size=4/overlap=2 windows: docs 0 and 1 share exactly one full
    window ("a b c d"); doc 2 shares none; short docs are absent."""
    d = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "x y a b c d"),
            (2, "p q r s"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_chunks, r.dup_chunk_frac)
        for r in dedup.chunk_dup_stats(d, size=4, overlap=2).collect()
    }
    assert out == {0: (2, 0.5), 1: (2, 0.5), 2: (1, 0.0)}


def test_jaccard_pairs_matches_bruteforce_random_corpora(spark):
    """End-to-end ground-truth check: on random small corpora (token
    soups with planted overlap), the candidate+bounds+verify pipeline must
    return exactly the pairs a brute-force O(n^2) python Jaccard finds —
    no pair lost to candidate generation or bound pruning, none invented."""
    import itertools
    import random

    from fireworks_spark.operators.dedup import jaccard_pairs

    vocab = [f"w{i}" for i in range(40)]
    for seed in (7, 41, 1234):
        rng = random.Random(seed)
        docs = []
        for i in range(12):
            if i >= 6 and rng.random() < 0.5:
                # mutate an earlier doc: high-overlap pair
                base = docs[rng.randrange(len(docs))][1].split()
                k = rng.randrange(0, 3)
                for _ in range(k):
                    base[rng.randrange(len(base))] = rng.choice(vocab)
                docs.append((i, " ".join(base)))
            else:
                docs.append(
                    (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 25))))
                )

        def shingles(text):
            w = text.split()
            return {tuple(w[j : j + 3]) for j in range(len(w) - 2)}

        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            sa, sb = shingles(ta), shingles(tb)
            if not sa or not sb:
                continue
            jac = len(sa & sb) / len(sa | sb)
            if round(jac, 3) >= 0.3:
                want.add((min(ia, ib), max(ia, ib)))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.ida, r.idb)
            for r in jaccard_pairs(df, threshold=0.3).collect()
        }
        assert got == want, f"seed={seed}: {got ^ want}"


def test_leakage_safe_split_never_straddles_pairs(spark):
    """Every dup pair (and transitively connected chain) must land in one
    split; singleton docs spread across all k splits."""
    from fireworks_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(100)], "doc_id long"
    )
    # chain 0-1-2, pair (10, 11), plus singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "ida long, idb long"
    )
    out = {r.doc_id: r.split for r in leakage_safe_split(docs, pairs, k=5).collect()}
    assert len(out) == 100
    assert out[0] == out[1] == out[2] == 0 % 5
    assert out[10] == out[11] == 10 % 5
    singles = [out[i] for i in range(20, 100)]
    assert set(singles) == {0, 1, 2, 3, 4}


def test_dedup_queries_release_their_caches(spark, sf_dir):
    """Back-to-back dedup queries must leave NO persisted blocks behind once
    the caller invokes release_caches on each result — the library-hygiene
    contract (VERDICT r4 #2): a long session must not accumulate cache
    blocks until eviction pressure skews everything."""
    from fireworks_spark.operators.dedup import (
        jaccard_pairs,
        keep_canonical,
        leakage_safe_split,
        minhash_dedup_pairs,
        release_caches,
    )
    from fireworks_spark.tables import table

    docs = table(spark, sf_dir, "documents")

    def persistent_rdds():
        return set(dict(spark.sparkContext._jsc.getPersistentRDDs()))

    # other tests share this session and may hold their own persisted
    # frames; assert only that THESE pipelines add nothing to the baseline
    baseline = persistent_rdds()

    for build in (
        lambda: jaccard_pairs(docs, threshold=0.8, df_cap=20),
        lambda: minhash_dedup_pairs(docs, threshold=0.8),
        lambda: keep_canonical(docs, minhash_dedup_pairs(docs, threshold=0.8)),
        lambda: leakage_safe_split(
            docs, minhash_dedup_pairs(docs, threshold=0.8)
        ),
    ):
        out = build()
        out.write.mode("overwrite").format("noop").save()
        release_caches(out)
        assert persistent_rdds() <= baseline, build


def test_jaccard_join_cross_corpus_exact_values(spark):
    left = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (5, "unrelated words entirely here nothing shared"),
        ],
        ["doc_id", "text"],
    )
    got = {(r.lid, r.rid): r.jac for r in dedup.jaccard_join(
        left, right, threshold=0.1
    ).collect()}
    assert got[(0, 3)] == 1.0                    # identical
    assert got[(0, 1)] == round(6 / 8, 3)        # 6 shared of 8 union
    assert (2, 5) not in got and (0, 5) not in got


def test_jaccard_join_caches_released(spark):
    left = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    right = spark.createDataFrame([(1, "a b c d f")], ["doc_id", "text"])
    baseline = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    # df_cap path also persists the union hot-shingle table; both must free
    for kw in ({}, {"df_cap": 8}):
        out = dedup.jaccard_join(left, right, threshold=0.1, **kw)
        out.collect()
        dedup.release_caches(out)
        assert (
            set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
            <= baseline
        ), kw


def test_minhash_join_finds_planted_cross_dups(spark):
    left = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # == 0
            (3, "the quick brown fox jumps over the lazy cat"),   # jac .75
            (5, "unrelated words entirely here nothing shared"),
        ],
        ["doc_id", "text"],
    )
    got = {(r.lid, r.rid): r.jac for r in dedup.minhash_join(
        left, right, threshold=0.7
    ).collect()}
    assert got[(0, 1)] == 1.0          # identical: every band collides
    assert got.get((0, 3)) == 0.75     # near-dup at 0.75 (16x2 bands: ~certain)
    assert all(rid in (1, 3) for (_, rid) in got)


def test_quadratic_guard_warns_past_budget(spark, monkeypatch):
    """VERDICT r9 #2: the quadratic-by-contract paths self-diagnose.
    With the comparison budget forced to 0, each entry point warns and
    names its sub-quadratic alternative; at the real (5e9) budget the
    same calls stay silent — no behavior change."""
    import warnings

    import pytest

    sigs = spark.createDataFrame(
        [(i, i * 7919 % (1 << 24)) for i in range(40)],
        "doc_id long, simhash long",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, f"shared tokens everywhere plus unique{i}") for i in range(12)],
        ["doc_id", "text"],
    )

    monkeypatch.setattr(dedup, "QUADRATIC_COMPARE_BUDGET", 0)
    with pytest.warns(UserWarning, match="band keyspace"):
        dedup.hamming_pairs(sigs, 8, num_bits=24)  # blocked route sizes eagerly
    with pytest.warns(UserWarning, match="sign-LSH"):
        dedup.blocked_cosine_pairs(vecs, 0.5)
    with pytest.warns(UserWarning, match="minhash_dedup_pairs"):
        dedup.jaccard_pairs(docs, 0.3, size_check=True)

    monkeypatch.setattr(dedup, "QUADRATIC_COMPARE_BUDGET", 5_000_000_000)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.hamming_pairs(sigs, 8, num_bits=24)
        dedup.blocked_cosine_pairs(vecs, 0.5)
        # size_check on, under budget: probe runs, stays silent, and the
        # result is unchanged vs the probe-free call
        a = sorted(map(tuple, dedup.jaccard_pairs(docs, 0.3).collect()))
    b = sorted(
        map(tuple, dedup.jaccard_pairs(docs, 0.3, size_check=True).collect())
    )
    assert a == b


def test_hamming_routing_skew_aware(spark, monkeypatch):
    """Cost-based routing (round 10): uniform signatures keep the banding
    plan (no Python stage); clustered signatures whose measured candidate
    volume stops pruning route to the blocked popcount naturally (no
    monkeypatching); both routes return the identical pair set. The
    blocked plan is detectable by its grouped-in-pandas popcount
    stage (FlatMapGroupsInPandas since the round-14 fused rewrite)."""
    import itertools
    import random

    rng = random.Random(11)

    def pairs_of(rows):
        want = {}
        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
            h = bin(sa ^ sb).count("1")
            if h <= 3:
                want[(min(ia, ib), max(ia, ib))] = h
        return want

    # uniform 64-bit signatures: banding prunes, router must keep it
    uni = [(i, rng.getrandbits(63)) for i in range(400)]
    df_u = spark.createDataFrame(uni, "doc_id long, simhash long")
    out_u = dedup.hamming_pairs(df_u, 3)
    plan_u = out_u._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan_u  # banding route: no Python stage
    got_u = {(r.ida, r.idb): r.hamming for r in out_u.collect()}
    assert got_u == pairs_of(uni)

    # clustered: every signature shares the top 48 bits -> three of the
    # four bands collide on ONE key, candidate volume ~ 3*D^2/2 >>
    # D^2/2/_BANDING_PRUNE_FACTOR -> router must pick blocked by itself
    base = rng.getrandbits(40) << 16
    clu = [(i, base | rng.getrandbits(16)) for i in range(300)]
    df_c = spark.createDataFrame(clu, "doc_id long, simhash long")
    out_c = dedup.hamming_pairs(df_c, 3)
    plan_c = out_c._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan_c  # fused blocked route
    got_c = {(r.ida, r.idb): r.hamming for r in out_c.collect()}
    assert got_c == pairs_of(clu)

    # row budget alone forces blocked even on uniform keys
    monkeypatch.setattr(dedup, "_BANDING_ROW_BUDGET", 0)
    out_f = dedup.hamming_pairs(df_u, 3)
    assert (
        "FlatMapGroupsInPandas"
        in out_f._jdf.queryExecution().executedPlan().toString()
    )
    assert {(r.ida, r.idb): r.hamming for r in out_f.collect()} == got_u


def test_extended_prefix_k_equivalence(spark):
    """The extended-prefix candidate generator (k>1, the low-threshold
    default) returns EXACTLY the same pair set and values as k=1 at every
    k — recall-exactness of the count floor, including tiny documents
    where ceil(t*min_size) < k."""
    import random

    rng = random.Random(3)
    vocab = [f"t{i}" for i in range(30)]
    docs = [(0, "a b c"), (1, "a b c"), (2, "a b c d")]  # 1-2 shingles
    for i in range(3, 40):
        docs.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for thr in (0.3, 0.5):
        base = None
        for k in (1, 2, 4, 6):
            cand, _, _ = dedup._prefix_candidate_stats(
                dedup.shingle_sets(df, "doc_id", "text", 3), "doc_id",
                thr, k=k,
            )
            # feed each k's candidate core through the shared verify:
            # the verified (ida, idb, jac) sets must agree exactly
            verified = sorted(
                map(
                    tuple,
                    dedup.jaccard_pairs(
                        df, thr, candidates=cand.select("ida", "idb")
                    ).select("ida", "idb", "jac").collect(),
                )
            )
            if base is None:
                base = verified
            assert verified == base, f"thr={thr} k={k}"
            dedup.release_caches(cand)


def test_prefix_common_counts_all_collisions(spark):
    """r10 verdict #4: at k=1 the PPJoin positional filter used to run as
    a ROW filter before the pair groupBy, so _common counted only
    positional survivors — an earliest-collision undercount that a future
    tightened allowance would turn into silent recall loss. It now runs
    as a pair-SURVIVAL test inside the aggregate: _common is the exact
    count of shared shingles inside both extended prefixes, while pairs
    with no row that could be an earliest collision are still pruned."""
    rows = [
        # identical 10-shingle docs: prefix L=4, all 4 prefix shingles
        # shared, but only positions 1-2 pass the positional bound —
        # the pre-fix code reported _common=2 for this TRUE pair
        (0, list(range(1, 11))),
        (1, list(range(1, 11))),
        # docs 2/3 share exactly ONE shingle (50), engineered to rank 4
        # in both prefixes (3 df=1 shingles rank first, 6 df=3 fillers
        # rank last): a FALSE pair whose only collision row fails the
        # earliest-collision bound -> pruned by the survival test
        (2, [101, 102, 103, 50, 301, 302, 303, 304, 305, 306]),
        (3, [111, 112, 113, 50, 401, 402, 403, 404, 405, 406]),
        # df inflators for the fillers (8 unique pads keep their own
        # prefixes df=1-only, so docs 4/5 emit no candidate rows)
        (4, list(range(501, 509)) + [301, 302, 303, 304, 305, 306]
            + [401, 402, 403, 404, 405, 406]),
        (5, list(range(601, 609)) + [301, 302, 303, 304, 305, 306]
            + [401, 402, 403, 404, 405, 406]),
    ]
    sets = spark.createDataFrame(rows, "doc_id long, shingles array<long>")
    cand, stats, _ = dedup._prefix_candidate_stats(
        sets, "doc_id", 0.7, k=1
    )
    got = {(r.ida, r.idb): r._common for r in cand.collect()}
    # exact both-prefix intersection count (4), not the positional-
    # survivor count (2); the late-collision-only false pair is pruned
    assert got == {(0, 1): 4}
    hot = {r._id: r._hot for r in stats.collect()}
    # the documented bound |A∩B| <= _common + _hotA + _hotB is exact and
    # can be tightened freely: 10 shared <= 4 + 6 + 6
    assert 10 <= got[(0, 1)] + hot[0] + hot[1]
    dedup.release_caches(cand)


def test_hamming_routing_probe_memoized(spark):
    """r10 verdict #6: the cost-based routing probe (an eager histogram
    over the distinct signatures) is memoized on the analyzed input
    plan's semanticHash — a second hamming_pairs over the SAME plan in
    one session runs NO Spark job at plan-construction time."""
    dedup.clear_routing_cache()
    sig = spark.createDataFrame(
        [(i, i % 7) for i in range(200)], "doc_id long, simhash long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("hp-probe-1", "first construction")
    out1 = dedup.hamming_pairs(sig, 3)
    sc.setJobGroup("hp-probe-2", "second construction")
    out2 = dedup.hamming_pairs(sig, 3)
    sc.setJobGroup("hp-collect", "actions")
    try:
        first = sc.statusTracker().getJobIdsForGroup("hp-probe-1")
        second = sc.statusTracker().getJobIdsForGroup("hp-probe-2")
        assert len(first) >= 1  # the probe ran once...
        assert len(second) == 0  # ...and was memoized the second time
        # a different banding shape is a different key: probe re-runs
        sc.setJobGroup("hp-probe-3", "different radius")
        dedup.hamming_pairs(sig, 2)
        sc.setJobGroup("hp-collect", "actions")
        assert len(sc.statusTracker().getJobIdsForGroup("hp-probe-3")) >= 1
        got1 = sorted(map(tuple, out1.collect()))
        got2 = sorted(map(tuple, out2.collect()))
        assert got1 == got2 and got1  # identical results either way
    finally:
        sc.setJobGroup(None, None)
        dedup.clear_routing_cache()
