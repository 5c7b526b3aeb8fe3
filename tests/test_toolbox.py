"""Operator-level unit tests for the dataflow toolbox (SURVEY §5 tier 1):
tiny inline DataFrames, properties the oracle can't check (seed determinism,
split disjointness, embedding lookup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fireworks_spark.functions.text import pad, words
from fireworks_spark.operators import toolbox


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [(i, chr(ord("a") + i % 3), float(i * 10)) for i in range(30)],
        ["id", "grp", "val"],
    )


def test_shuffle_same_seed_same_order(spark, people):
    a = [r.id for r in toolbox.shuffle(people, seed=7).collect()]
    b = [r.id for r in toolbox.shuffle(people, seed=7).collect()]
    assert a == b
    assert sorted(a) == list(range(30))  # permutation, no loss/dup


def test_shuffle_different_seed_different_order(spark, people):
    a = [r.id for r in toolbox.shuffle(people, seed=1).collect()]
    b = [r.id for r in toolbox.shuffle(people, seed=2).collect()]
    assert sorted(a) == sorted(b)
    assert a != b


def test_repeat_cardinality_and_epochs(spark, people):
    out = toolbox.repeat(people, 4, epoch_col="ep")
    assert out.count() == 120
    eps = {r.ep for r in out.select("ep").distinct().collect()}
    assert eps == {0, 1, 2, 3}
    assert toolbox.repeat(people, 2).columns == people.columns


def test_hash_split_disjoint_and_total(spark, people):
    splits = toolbox.hash_split(
        people, {"train": 0.7, "test": 0.3}, key_col="id", seed=3
    )
    tr = {r.id for r in splits["train"].collect()}
    te = {r.id for r in splits["test"].collect()}
    assert tr | te == set(range(30))
    assert tr & te == set()
    # deterministic: same seed reproduces the same assignment
    tr2 = {
        r.id
        for r in toolbox.hash_split(
            people, {"train": 0.7, "test": 0.3}, key_col="id", seed=3
        )["train"].collect()
    }
    assert tr == tr2


def test_label_index_sorted_order(spark, people):
    out = toolbox.label_index(people, "grp")
    m = {r.grp: r.label_idx for r in out.select("grp", "label_idx").distinct().collect()}
    assert m == {"a": 0, "b": 1, "c": 2}


def test_one_hot(spark):
    df = spark.createDataFrame([(0,), (2,)], ["i"])
    out = df.select(toolbox.one_hot("i", 3).alias("oh")).collect()
    assert [r.oh for r in out] == [[1, 0, 0], [0, 0, 1]]


def test_interleave_round_robin(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(10,), (20,)], ["k"])
    rows = toolbox.interleave([a, b], ["k"]).orderBy("pos").collect()
    assert [(r.pos, r.src, r.k) for r in rows] == [
        (0, 0, 1),
        (1, 1, 10),
        (2, 0, 2),
        (3, 1, 20),
        (4, 0, 3),
    ]


def test_interleave_random_is_permutation_of_union(spark):
    a = spark.createDataFrame([(i,) for i in range(5)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(100, 105)], ["k"])
    out = [r.k for r in toolbox.interleave_random([a, b], seed=9).collect()]
    assert sorted(out) == list(range(5)) + list(range(100, 105))


def test_standardize_global_and_grouped(spark, people):
    import math

    out = toolbox.standardize(people, ["val"]).collect()
    zs = [r.val_std for r in out]
    assert abs(sum(zs)) < 1e-9
    assert abs(sum(z * z for z in zs) / len(zs) - 1.0) < 1e-9
    grouped = toolbox.standardize(people, ["val"], group_by="grp")
    g = grouped.filter(F.col("grp") == "a").collect()
    assert abs(sum(r.val_std for r in g)) < 1e-9
    assert not math.isnan(g[0].val_std)


def test_pad_truncate_and_fill(spark):
    df = spark.createDataFrame([("a b c",), ("a b c d e f g",)], ["t"])
    out = df.select(pad(words("t"), 5, "#").alias("p")).collect()
    assert out[0].p == ["a", "b", "c", "#", "#"]
    assert out[1].p == ["a", "b", "c", "d", "e"]


def test_apply_embeddings_order_and_unknowns(spark):
    docs = spark.createDataFrame([(1, ["b", "a", "zz", "b"])], ["id", "toks"])
    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["token", "vec"]
    )
    rows = toolbox.apply_embeddings(docs, "toks", emb).collect()
    assert len(rows) == 1
    # order preserved by position; unknown 'zz' dropped
    assert rows[0].vecs == [[0.0, 1.0], [1.0, 0.0], [0.0, 1.0]]


def test_with_label(spark, people):
    out = toolbox.with_label(people, "train")
    assert out.filter(F.col("labels") == "train").count() == 30


def test_with_row_index_matches_global_order(spark):
    # 1000 rows scattered over 8 input partitions; index must equal the
    # rank in the declared total order regardless of layout.
    df = spark.range(1000).repartition(8).select(
        (F.col("id") * 37 % 1000).alias("k"), (F.col("id") % 7).alias("v")
    )
    out = toolbox.with_row_index(df, ["k"], "idx", num_partitions=6)
    rows = out.orderBy("k").collect()
    assert [r.idx for r in rows] == list(range(1000))
    assert [r.k for r in rows] == sorted(r.k for r in rows)
    # the fact-side window must be partitioned (by _pid), not global: the
    # only unpartitioned window allowed is the tiny per-bucket-offsets one
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    rn_lines = [l for l in plan.splitlines() if "row_number" in l]
    assert any("_pid" in l for l in rn_lines)


def test_hstack_positional_merge(spark):
    a = spark.createDataFrame([(3,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(30, "c"), (10, "a"), (20, "b")], ["y", "tag"])
    out = {r.x: (r.y, r.tag) for r in toolbox.hstack(a, b, ["x"], ["y"]).collect()}
    assert out == {1: (10, "a"), 2: (20, "b"), 3: (30, "c")}
    with pytest.raises(ValueError):
        toolbox.hstack(a, a, ["x"], ["x"])


def test_stratified_sample_fractions(spark):
    df = spark.createDataFrame(
        [(i, "maj" if i < 900 else "min") for i in range(1000)], "id long, c string"
    )
    out = toolbox.stratified_sample(df, "c", {"maj": 0.1, "min": 1.0}, seed=5)
    counts = {r.c: r.n for r in out.groupBy("c").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["min"] == 100  # fraction 1.0 keeps every row
    assert 50 <= counts["maj"] <= 150  # ~10% of 900
    # deterministic under the same seed
    again = toolbox.stratified_sample(df, "c", {"maj": 0.1, "min": 1.0}, seed=5)
    assert sorted(r.id for r in out.collect()) == sorted(r.id for r in again.collect())


def test_salted_join_equals_plain_join(spark):
    # pathological skew: 90% of the big side shares one key
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k long, v long"
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(0, 1000, 10)] + [(1, "dim1")],
        "k long, name string",
    )
    plain = {(r.k, r.v, r.name) for r in big.join(small, "k").collect()}
    salted = {
        (r.k, r.v, r.name)
        for r in toolbox.salted_join(big, small, "k", salt=8).collect()
    }
    assert salted == plain and len(plain) > 0


def test_profile_counts_nulls_distinct_minmax(spark):
    d = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c"), (None, "a")],
        "k int, s string",
    )
    rows = {r["col_name"]: r for r in toolbox.profile(d).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 2
    assert (rows["k"]["min_str"], rows["k"]["max_str"]) == ("1", "2")
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert (rows["s"]["min_str"], rows["s"]["max_str"]) == ("a", "c")


def test_heavy_hitters_orders_by_count_then_key(spark):
    d = spark.createDataFrame(
        [("x",)] * 3 + [("y",)] * 2 + [("z",)] * 2 + [("w",)],
        "k string",
    )
    out = toolbox.heavy_hitters(d, "k", top=3).collect()
    assert [(r["k"], r["cnt"]) for r in out] == [("x", 3), ("y", 2), ("z", 2)]
    assert abs(out[0]["frac"] - 0.375) < 1e-9


def test_winsorize_clips_to_group_percentiles(spark):
    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 1000.0)]
    d = spark.createDataFrame(rows, "g string, v double")
    out = toolbox.winsorize(d, "v", lo=0.05, hi=0.95, by="g", out_col="w")
    a = {r["v"]: r["w"] for r in out.where("g = 'a'").collect()}
    # exact interpolated p5/p95 of 1..100 are 5.95 and 95.05
    assert a[1.0] == 5.95 and a[100.0] == 95.05 and a[50.0] == 50.0
    b = out.where("g = 'b'").collect()[0]
    assert b["w"] == 1000.0  # single-element group: bounds equal the value


def test_weighted_sample_k_per_group_and_deterministic(spark):
    rows = [(g * 100 + i, f"g{g}", (i % 7) + 1) for g in range(3) for i in range(30)]
    d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    a = toolbox.weighted_sample(
        d, "n_chars", k=5, key_col="doc_id", group_col="source", seed=7
    )
    got = sorted((r.source, r.doc_id) for r in a.collect())
    counts = {}
    for s, _ in got:
        counts[s] = counts.get(s, 0) + 1
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    again = sorted(
        (r.source, r.doc_id)
        for r in toolbox.weighted_sample(
            d, "n_chars", k=5, key_col="doc_id", group_col="source", seed=7
        ).collect()
    )
    assert again == got


def test_weighted_sample_inclusion_tracks_weight(spark):
    # 200 independent 2-horse races (k=1): heavy weight 9 vs light 1.
    # P(heavy wins) = 0.9; Binomial(200, .9) is within [160, 200] w.p. ~1-1e-8.
    rows = []
    for g in range(200):
        rows.append((g * 2, g, 9))      # heavy
        rows.append((g * 2 + 1, g, 1))  # light
    d = spark.createDataFrame(rows, "doc_id long, g long, w long")
    wins = (
        toolbox.weighted_sample(d, "w", k=1, key_col="doc_id", group_col="g")
        .where("w = 9")
        .count()
    )
    assert 160 <= wins <= 200


def test_weighted_sample_global_topk(spark):
    d = spark.createDataFrame(
        [(i, 1 + i % 3) for i in range(50)], "doc_id long, w long"
    )
    out = toolbox.weighted_sample(d, "w", k=7, key_col="doc_id").collect()
    assert len(out) == 7
    # es_key ascending (the k smallest exponential keys win)
    keys = [r.es_key for r in out]
    assert keys == sorted(keys)


def _budget_reference(rows, budget, seed):
    """Pandas/pure-Python reference: per-group keyed-random order prefix."""
    import hashlib

    def u(doc_id):
        h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:15], 16)
        return (h % (1 << 20) + 0.5) / (1 << 20)

    by_g = {}
    for doc_id, g, tok in rows:
        by_g.setdefault(g, []).append((u(doc_id), doc_id, tok))
    keep = {}
    for g, items in by_g.items():
        cum = 0
        for uu, doc_id, tok in sorted(items):
            cum += tok
            if cum > budget:
                break
            keep[doc_id] = cum
    return keep


def test_token_budget_sample_grouped_matches_reference(spark):
    rows = [(g * 100 + i, f"g{g}", 10 + (i * 7) % 40) for g in range(3) for i in range(25)]
    d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = toolbox.token_budget_sample(
        d, "n_chars", budget=300, key_col="doc_id", group_col="source", seed=11
    )
    got = {r.doc_id: r.cum_tokens for r in out.collect()}
    ref = _budget_reference(
        [(r[0], r[1], r[2]) for r in rows], budget=300, seed=11
    )
    assert got == ref


def test_token_budget_sample_global_uses_distributed_cumsum(spark):
    rows = [(i, "x", 10) for i in range(100)]
    d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = toolbox.token_budget_sample(
        d, "n_chars", budget=250, key_col="doc_id", seed=11
    )
    got = out.collect()
    # budget 250 / 10 tokens each -> exactly 25 docs, cum_tokens = 10..250
    assert len(got) == 25
    assert sorted(r.cum_tokens for r in got) == [10 * i for i in range(1, 26)]
    # the two-pass design caches its range buckets until release_caches
    from fireworks_spark.operators.dedup import release_caches

    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    release_caches(out)
    assert cache.isEmpty()


def test_histogram_bins_and_edges(spark):
    d = spark.createDataFrame([(float(v),) for v in range(0, 101)], "x double")
    out = {r.bin: r for r in toolbox.histogram(d, "x", nbins=10).collect()}
    # width 10: bins 0..8 get 10 values, bin 9 gets 11 (100 folds into last)
    assert {b: r.cnt for b, r in out.items()} == {
        **{b: 10 for b in range(9)}, 9: 11
    }
    assert out[0].bin_lo == 0.0 and abs(out[9].bin_hi - 100.0) < 1e-9


def test_histogram_constant_column_single_bin(spark):
    d = spark.createDataFrame([(5.0,)] * 7, "x double")
    rows = toolbox.histogram(d, "x", nbins=4).collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].cnt == 7


def test_histogram_excludes_nulls(spark):
    # nulls must not inflate any bin (they used to land in the top bin via
    # least(null, nbins-1), and in bin 0 for constant columns)
    d = spark.createDataFrame(
        [(1.0,), (None,), (5.5,), (None,), (10.0,)], "x double"
    )
    out = {r.bin: r.cnt for r in toolbox.histogram(d, "x", nbins=2).collect()}
    assert out == {0: 1, 1: 2}
    const = spark.createDataFrame([(5.0,), (None,), (5.0,)], "x double")
    rows = toolbox.histogram(const, "x", nbins=4).collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].cnt == 2


def test_histogram_grouped_bounds_are_per_group(spark):
    d = spark.createDataFrame(
        [("a", 0.0), ("a", 10.0), ("b", 100.0), ("b", 200.0)], "g string, x double"
    )
    rows = {(r.g, r.bin): r for r in toolbox.histogram(d, "x", nbins=2, by="g").collect()}
    assert rows[("a", 0)].bin_lo == 0.0 and rows[("a", 1)].bin_hi == 10.0
    assert rows[("b", 0)].bin_lo == 100.0 and rows[("b", 1)].bin_hi == 200.0


def test_temperature_mix_shares_track_alpha(spark):
    # strata sized 400 / 100: natural share 4:1.
    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "small") for i in range(100)
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string")

    def kept(alpha):
        out = toolbox.temperature_mix(d, "source", alpha=alpha)
        c = {}
        for r in out.collect():
            c[r.source] = c.get(r.source, 0) + 1
        return c

    # alpha=0: equalized — big sampled at rate 0.25 (binomial, sd ~8.7)
    eq = kept(0.0)
    assert eq["small"] == 100          # largest rate stratum keeps all
    assert 60 <= eq["big"] <= 140
    # alpha=1: natural mix preserved — nothing dropped
    assert sum(kept(1.0).values()) == 500
    # alpha=0.5: target 2:1 -> big at rate 0.5 (sd ~10)
    mid = kept(0.5)
    assert mid["small"] == 100 and 155 <= mid["big"] <= 245
    # deterministic
    assert kept(0.5) == kept(0.5)
