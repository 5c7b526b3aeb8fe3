"""Unit tests for operators/ranking.py on tiny inline corpora (SURVEY §5
tier 1) plus oracle checks for q82-q85 at sf0.001."""

from __future__ import annotations

import math

import pytest

from fireworks_spark.operators import ranking


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "a b a c"),
            (1, "b b b b"),
            (2, "c d e f"),
            (3, "a"),
        ],
        ["doc_id", "text"],
    )


def test_tf_idf_closed_form(corpus):
    rows = {
        (r.doc_id, r.term): r
        for r in ranking.tf_idf(corpus).collect()
    }
    # 'a' appears in docs 0 and 3 -> df=2, N=4 -> idf=ln(2)
    r = rows[(0, "a")]
    assert r.tf == 2 and r.df == 2
    assert r.tfidf == round(2 * math.log(4 / 2), 4)
    # 'b' df=2; doc1 tf=4
    assert rows[(1, "b")].tfidf == round(4 * math.log(2), 4)
    # min_df prunes rare terms
    pruned = ranking.tf_idf(corpus, min_df=2)
    assert {r.term for r in pruned.collect()} == {"a", "b", "c"}


def test_bm25_scores_and_order(corpus):
    out = ranking.bm25_topk(corpus, ["b"], k=2).collect()
    # doc 1 is all-'b' -> highest score for query 'b'
    assert out[0].doc_id == 1
    # closed form for doc 1: N=4, df('b')=2, tf=4, dl=4, avgdl=13/4
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    w = idf * (4 * 2.2) / (4 + 1.2 * (0.25 + 0.75 * 4 / (13 / 4)))
    assert out[0].score == round(w, 4)


def test_chunk_tokens_overlap(spark):
    df = spark.createDataFrame(
        [(0, " ".join(str(i) for i in range(10)))], ["doc_id", "text"]
    )
    out = {
        r.chunk_idx: r for r in ranking.chunk_tokens(df, size=4, overlap=2).collect()
    }
    # stride 2 -> starts 0,2,4,6,8
    assert sorted(out) == [0, 1, 2, 3, 4]
    assert out[0].chunk == "0 1 2 3"
    assert out[1].chunk == "2 3 4 5"  # 2-token overlap with chunk 0
    assert out[4].chunk == "8 9" and out[4].n_tokens == 2  # clipped tail
    with pytest.raises(ValueError):
        ranking.chunk_tokens(df, size=4, overlap=4)


def test_repetition_stats(corpus):
    rows = {r.doc_id: r for r in ranking.repetition_stats(corpus).collect()}
    # doc 0: 4 tokens, 3 distinct -> dup 1/4; bigrams all distinct -> 1/3
    assert rows[0].dup_word_frac == 0.25
    assert rows[0].top_bigram_frac == round(1 / 3, 4)
    # doc 1: all same word -> dup 3/4, single bigram repeated 3x -> 1.0
    assert rows[1].dup_word_frac == 0.75
    assert rows[1].top_bigram_frac == 1.0
    # doc 3: single token -> no bigrams -> 0.0
    assert rows[3].dup_word_frac == 0.0
    assert rows[3].top_bigram_frac == 0.0


def test_q82_85_vs_oracle(spark, sf_dir, oracle_con):
    from fireworks_spark.oracle import compare
    from fireworks_spark.queries_ranking import RANKING_ORACLE, RANKING_QUERIES

    for name, fn in RANKING_QUERIES.items():
        problems = compare(
            fn(spark, sf_dir), oracle_con.sql(RANKING_ORACLE[name]).df()
        )
        assert not problems, f"{name}: {problems}"


def test_with_running_total_distributed(spark):
    from fireworks_spark.operators.dedup import release_caches
    from fireworks_spark.operators.toolbox import with_running_total

    df = spark.createDataFrame(
        [(i, i % 7 + 1) for i in range(200)], ["k", "v"]
    ).repartition(8)
    out = with_running_total(df, ["k"], "v", total_col="rt", num_partitions=5)
    rows = {r.k: r.rt for r in out.collect()}
    acc = 0
    for i in range(200):
        acc += i % 7 + 1
        assert rows[i] == acc
    # the range buckets stay cached until release_caches frees them
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    release_caches(out)
    assert cache.isEmpty()


def test_pack_sequences_budget(spark):
    # 5 docs x 10 tokens, budget 25 -> packs 0,0,0,1,1 by start offset
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * 10)) for i in range(5)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in ranking.pack_sequences(df, budget=25).collect()}
    assert [out[i].start_offset for i in range(5)] == [0, 10, 20, 30, 40]
    assert [out[i].pack_id for i in range(5)] == [0, 0, 0, 1, 1]


def test_token_entropy_closed_form(spark):
    import math

    df = spark.createDataFrame(
        [(0, "a a b b"), (1, "c c c c"), (2, "a b c d")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in ranking.token_entropy(df).collect()}
    assert rows[0].entropy == round(math.log(2), 4)  # uniform over 2
    assert rows[1].entropy == 0.0                    # single symbol
    assert rows[2].entropy == round(math.log(4), 4)  # uniform over 4


def test_bigram_perplexity_closed_form(spark):
    import math

    # corpus: doc0 = "a b a b", doc1 = "a b"; V = 2
    # bigram counts: (a,b)=3, (b,a)=1 ; unigram: a=3, b=3
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in ranking.bigram_perplexity(df).collect()}
    p_ab = (3 + 1) / (3 + 2)   # p(b|a)
    p_ba = (1 + 1) / (3 + 2)   # p(a|b)
    # doc0 bigrams: ab, ba, ab
    want0 = math.exp(-(2 * math.log(p_ab) + math.log(p_ba)) / 3)
    assert rows[0].n_bigrams == 3
    assert rows[0].ppl == round(want0, 4)
    # doc1: single ab bigram
    assert rows[1].n_bigrams == 1
    assert rows[1].ppl == round(1 / p_ab, 4)


def test_dsir_weights_closed_form(spark):
    """Two-doc corpus, target = doc 0. Hand-computed add-1 unigram ratios:
    vocab {a,b,c} (v=3), raw counts a=3,b=2,c=1 (tr=6), target counts
    a=2,b=1 (tt=3)."""
    import math

    d = spark.createDataFrame(
        [(0, "a a b"), (1, "a b c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.dsir_logw
        for r in ranking.dsir_weights(d, d.filter("doc_id = 0")).collect()
    }
    lr = {
        "a": math.log(3 / 6) - math.log(4 / 9),
        "b": math.log(2 / 6) - math.log(3 / 9),
        "c": math.log(1 / 6) - math.log(2 / 9),
    }
    assert out[0] == round(2 * lr["a"] + lr["b"], 4)
    assert out[1] == round(lr["a"] + lr["b"] + lr["c"], 4)
    # target-resembling doc scores higher
    assert out[0] > out[1]


def test_rrf_fuse_closed_form(spark):
    """Two 3-item rankings with one shared doc: RRF scores are exactly
    sum(1/(60+rank)); shared doc outranks every single-list doc."""
    a = spark.createDataFrame(
        [(10, 0.9), (20, 0.8), (30, 0.7)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(20, 0.99), (40, 0.5), (50, 0.4)], "doc_id long, sim double"
    )
    got = {
        r.doc_id: (r.rrf, r.rk)
        for r in ranking.rrf_fuse([a, b], k=10).collect()
    }
    # doc 20: rank 2 in a, rank 1 in b
    assert got[20][0] == round(1 / 62 + 1 / 61, 6)
    assert got[20][1] == 1  # fused winner despite winning neither list
    assert got[10][0] == round(1 / 61, 6)
    assert set(got) == {10, 20, 30, 40, 50}
    # 10 (rank 1 in a, 1/61) outranks 40 (rank 2 in b, 1/62)
    assert got[10][1] < got[40][1]


def test_hashed_score_closed_form(spark):
    import hashlib

    from fireworks_spark.operators import ranking

    dim = 16
    weights = [round(0.1 * i - 0.5, 2) for i in range(dim)]

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim

    docs = spark.createDataFrame(
        [(0, "alpha beta beta"), (1, ""), (2, "gamma")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in ranking.hashed_score(
        docs, weights, bias=0.25
    ).collect()}
    exp0 = (weights[h("alpha")] + 2 * weights[h("beta")]) / 3 + 0.25
    assert abs(got[0] - exp0) < 1e-9
    assert got[1] == 0.25  # empty doc: bias only
    assert abs(got[2] - (weights[h("gamma")] + 0.25)) < 1e-9


def test_fit_hashed_classifier_separates_planted_labels(spark):
    from fireworks_spark.operators import ranking

    rows = []
    for i in range(40):
        rows.append((i, "excellent prose with varied thoughtful words", 1))
        rows.append((100 + i, "buy cheap pills now click here spam spam", 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = ranking.fit_hashed_classifier(
        docs, "y", dim=32, epochs=15, lr=2.0
    )
    scored = {r.doc_id: r.score for r in ranking.hashed_score(
        docs, w, bias=b
    ).collect()}
    good = [scored[i] for i in range(40)]
    bad = [scored[100 + i] for i in range(40)]
    assert min(good) > max(bad)  # perfectly separable corpus separates


def test_ngram_repetition_closed_form(spark):
    """Hand-computed Gopher repetition fractions: top-2-gram char share,
    duplicated-5-gram char share, empty-doc zeros, and the pass flag."""
    import math

    from fireworks_spark.operators import ranking

    df = spark.createDataFrame(
        [
            (1, "a b a b a b c"),  # 'a b' x3, len 13 -> 9/13
            (2, ""),
            (3, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 tail"),
            (4, "all distinct words here now"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ranking.ngram_repetition(df).collect()}
    assert got[1].top_ngram_frac_2 == math.floor(9 / 13 * 1e4 + 0.5) / 1e4
    assert not got[1].rep_pass  # 0.69 > 0.20 top-2 bound
    assert got[2].top_ngram_frac_2 == 0.0 and got[2].rep_pass
    t3 = "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5 tail"
    toks = t3.split()
    from collections import Counter

    c5 = Counter(
        " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
    )
    dup = sum(n * len(g) for g, n in c5.items() if n >= 2)
    assert got[3].dup_ngram_frac_5 == math.floor(
        dup / len(t3) * 1e4 + 0.5
    ) / 1e4
    assert not got[3].rep_pass
    assert got[4].rep_pass  # nothing repeats


def test_ngram_repetition_matches_python_reference(spark):
    """Differential check of the 9 run-length folds against a plain
    Counter reference over random docs (short docs, empty docs, heavy
    repeats) — same count>=2 rule, char weights, rounding."""
    import math
    import random
    from collections import Counter

    from fireworks_spark.operators import ranking

    rng = random.Random(11)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    docs = [(0, ""), (1, "aa"), (2, "aa b aa b aa b")]
    for i in range(3, 40):
        n = rng.randrange(0, 60)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in ranking.ngram_repetition(df).collect()}

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    for doc_id, text in docs:
        toks = text.split()
        nc = len(text)
        for n in (2, 3, 4):
            grams = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            top = max(
                (c * len(g) for g, c in grams.items() if c >= 2), default=0
            )
            want = r4(top / nc) if nc else 0.0
            assert got[doc_id][f"top_ngram_frac_{n}"] == want, (
                doc_id, n, text
            )
        for n in range(5, 11):
            grams = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            dup = sum(c * len(g) for g, c in grams.items() if c >= 2)
            want = r4(dup / nc) if nc else 0.0
            assert got[doc_id][f"dup_ngram_frac_{n}"] == want, (
                doc_id, n, text
            )


def test_ngram_repetition_normalizes_whitespace_and_case(spark):
    """Newlines/tabs/mixed case tokenize exactly like the q154 oracle
    (lower + trim + split on \\s+): 'W1 w2\\nw1 w2 x' repeats the
    bigram 'w1 w2' across the line join, and the denominator stays the
    RAW character count (13, newline included)."""
    import math
    from collections import Counter

    from fireworks_spark.operators import ranking

    text = "W1 w2\nw1 w2 x"
    df = spark.createDataFrame(
        [(1, text), (2, "  \n\t "), (3, "A\t a\na  A")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ranking.ngram_repetition(df).collect()}

    def r4(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    toks = text.lower().split()
    c2 = Counter(" ".join(toks[i : i + 2]) for i in range(len(toks) - 1))
    top2 = max(c * len(g) for g, c in c2.items() if c >= 2)
    assert got[1].top_ngram_frac_2 == r4(top2 / len(text))
    # whitespace-only doc: zero tokens, zero fractions, passes
    assert got[2].top_ngram_frac_2 == 0.0 and got[2].rep_pass
    # case folding: bigram 'a a' x3 -> top-2 chars 3*3 over raw len 9
    assert got[3].top_ngram_frac_2 == r4(9 / len("A\t a\na  A"))
