#!/usr/bin/env python
"""Measured-rejection artifact (r16, VERDICT r15 #7): q36's eager-quantizer
shape (driver collect + injected-centroid ivf_topk with its Arrow
assignment pass) vs a fully-lazy single-DAG variant where the per-label
mean centroids stay a DataFrame, assignment is a Catalyst left-fold argmax
over a one-row broadcast centroid array (zero Python nodes, zero eager
jobs), and the probe/top-k mirror ivf_topk.

Same-session alternating A/B at sf0.1/local[32] (this file, 2026-08-18,
record-grade window — full-pass cohort at ~1.0x records):

    rep0 old: 1.585s  new(v1): 3.144s   v1 = cosine_similarity per centroid
    rep1 old: 1.363s  new(v1): 3.081s        (3 folds/centroid, transform
    rep2 old: 1.642s  new(v1): 3.340s         re-evaluated by seed+slice)
    rep3 old: 1.374s  new(v1): 2.872s
    rep0 old: 2.072s  new(v2): 3.117s   v2 = per-centroid norms precomputed,
    rep1 old: 1.556s  new(v2): 2.177s        row norm once, _scored staged
    rep2 old: 1.363s  new(v2): 2.015s        as a column (1 dot fold per
    rep3 old: 1.438s  new(v2): 2.216s        centroid) — still 1.5x slower

REJECTED: Catalyst higher-order functions are CodegenFallback — the
per-row interpreted fold (nlist dot folds x dim lambda steps) loses ~3x
to the Arrow pass's BLAS matmul even after the v2 refinements, the same
regime as the r15 JVM-simhash rejection (SCALE.md). The eager collect
stays: it is the injected-quantizer contract, its job is ~0.3s, and the
Arrow assignment it feeds is the measured-fastest kernel. Parity of the
lazy variant was verified before rejection (identical ids/ranks/sims at
sf0.001; oracle-green at sf0.001/0.01/0.1).

    SPARK_GRAFT_SF_DIR=... python tools/probe_q36_lazy.py [--reps N]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ivf_topk_lazy(base, queries, centroid_df, k=5, nprobe=2,
                  id_col="vec_id", vec_col="embedding"):
    """The rejected lazy path (v2): one deferred DAG, no Python boundary.
    centroid_df is (pt int, cv array<double>)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fireworks_spark.functions.vector import (
        cosine_similarity,
        dot,
        l2_norm,
    )

    cent = centroid_df.select(
        F.col("pt").cast("int").alias("pt"),
        F.col("cv").cast("array<double>").alias("cv"),
    )
    # one row: array<struct<pt,cv,cn>> sorted by pt — the fold visits
    # centroids in pt order so "first max" == "lowest pt among ties"
    # (the oracle's row_number tie-break); centroid norms precomputed
    cent_arr = cent.select(
        F.struct("pt", "cv", l2_norm(F.col("cv")).alias("cn")).alias("_c")
    ).agg(F.array_sort(F.collect_list("_c")).alias("_cents"))
    b = base.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    staged = (
        b.crossJoin(F.broadcast(cent_arr))
        .withColumn("_nn", l2_norm(F.col("nv")))
        .withColumn(
            "_scored",
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (dot(F.col("nv"), c["cv"]) / (F.col("_nn") * c["cn"]))
                    .alias("cs"),
                    c["pt"].alias("pt"),
                ),
            ),
        )
    )
    best = F.aggregate(
        F.slice(
            F.col("_scored"), 2,
            F.greatest(F.size(F.col("_scored")) - 1, F.lit(0)),
        ),
        F.element_at(F.col("_scored"), 1),
        lambda acc, s: F.when(s["cs"] > acc["cs"], s).otherwise(acc),
    )
    assigned = staged.select("nid", "nv", best["pt"].alias("pt"))
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    qc = q.crossJoin(F.broadcast(cent)).select(
        "qid", "qv", "pt",
        cosine_similarity(F.col("qv"), F.col("cv")).alias("cs"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cs"), F.col("pt"))
    probe = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qv", "pt")
    )
    sim = F.round(cosine_similarity(F.col("qv"), F.col("nv")), 4)
    pairs = (
        assigned.join(F.broadcast(probe), "pt")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("nid"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", "sim", "rk")
    )


def main() -> None:
    reps = 4
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("FIREWORKS_SCRATCH_WAREHOUSE", "1")

    from pyspark.sql import functions as F

    from fireworks_spark.operators import dedup
    from fireworks_spark.queries_pipeline import q36_ann_ivf_topk
    from fireworks_spark.session import get_spark, persist
    from fireworks_spark.tables import table

    spark = get_spark(
        app_name="fw-probe-q36",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if str(cpus).isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("WARN")

    def lazy_shape(spark, sf_dir):
        e = table(spark, sf_dir, "embeddings")
        cvec = persist(
            e.select(
                "label",
                F.posexplode(
                    F.col("embedding").cast("array<double>")
                ).alias("d", "x"),
            )
            .groupBy("label", "d")
            .agg(F.avg("x").alias("cx"))
            .groupBy("label")
            .agg(
                F.array_sort(F.collect_list(F.struct("d", "cx"))).alias("_s")
            )
            .select(
                F.col("label").alias("pt"),
                F.transform("_s", lambda s: s["cx"]).alias("cv"),
            )
        )
        return (
            ivf_topk_lazy(e, e.filter(F.col("vec_id") < 10), cvec,
                          k=5, nprobe=2)
            .withColumn("rk", F.col("rk").cast("long"))
            .orderBy("qid", "rk")
        )

    # parity check first (both shapes, sorted rows must be identical)
    a = [tuple(r) for r in q36_ann_ivf_topk(spark, sf_dir).collect()]
    bdf = lazy_shape(spark, sf_dir)
    b = [tuple(r) for r in bdf.collect()]
    dedup.release_caches(bdf)
    spark.catalog.clearCache()
    print(f"parity: {'OK' if a == b else 'MISMATCH'} ({len(a)} rows)",
          flush=True)

    for fn in (q36_ann_ivf_topk, lazy_shape):  # warm both (unrecorded)
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dedup.release_caches(df)
        spark.catalog.clearCache()

    for rep in range(reps):
        for tag, fn in (("old", q36_ann_ivf_topk), ("new", lazy_shape)):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            dedup.release_caches(df)
            spark.catalog.clearCache()
            print(f"rep{rep} {tag}: {dt:.3f}s", flush=True)


if __name__ == "__main__":
    main()
