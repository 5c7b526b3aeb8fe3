"""Declared queries for the ML-feed / UDF layer (M4) and multimodal columns:
every query routes real data through an Arrow-batched Python stage
(mapInPandas / applyInPandas) and is checked against a DuckDB oracle running
the same math in SQL — proving the batch plumbing preserves values exactly.

Float note: numpy matmul sums in a different order than the oracle's strict
left fold; agreement is to ~1 ulp and every declared output is rounded (with
`+ 0.0` normalizing IEEE -0.0 on both sides).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark import mlfeed
from fireworks_spark.operators import multimodal
from fireworks_spark.tables import table

# deterministic test weights for the linear scorer (dim 64)
_DIM = 64
_WEIGHTS = [((d * 37) % 19 - 9) / 10.0 for d in range(_DIM)]
_BIAS = 0.5


def q63_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight linear model over the embedding column, evaluated as an
    Arrow-batched mapInPandas stage (np.stack + matmul per batch)."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    model = mlfeed.LinearModel(_WEIGHTS, _BIAS, vec_col="embedding", out_col="score")
    scored = model.transform(e, schema="vec_id long, score double")
    return scored.select(
        "vec_id", (F.round("score", 4) + F.lit(0.0)).alias("score")
    ).orderBy("vec_id")


def q64_batch_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-batch pandas function (FunctionPipe): character count +
    uppercase count computed with pandas string kernels."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def fn(b: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": b["doc_id"],
                "n_chars": b["text"].str.len().astype("int64"),
                "n_upper": b["text"].str.count(r"[A-Z]").astype("int64"),
            }
        )

    return mlfeed.batch_transform(
        d, fn, schema="doc_id long, n_chars long, n_upper long"
    ).orderBy("doc_id")


def q65_grouped_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group pandas normalization (applyInPandas — the reference's
    per-group Normalizer): z-score of c_acctbal within each market segment,
    whole group visible to the pandas fn."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )

    def fn(g: pd.DataFrame) -> pd.DataFrame:
        x = g["c_acctbal"].astype("float64")
        z = (x - x.mean()) / x.std(ddof=0)
        return pd.DataFrame({"c_custkey": g["c_custkey"], "z": z})

    out = mlfeed.grouped_transform(
        c, ["c_mktsegment"], fn, schema="c_custkey long, z double"
    )
    return out.select(
        "c_custkey", (F.round("z", 3) + F.lit(0.0)).alias("z")
    ).orderBy("c_custkey")


def q66_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata, all JVM-side: documents' text re-encoded as a
    BINARY media column, then byte length + md5 + magic sniff."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    return multimodal.with_media_meta(d, "media").orderBy("doc_id")


def q67_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode stage over binary media (deterministic stand-in
    kernel — see operators/multimodal._decode_bytes): bytes cross into
    Python once per batch and come back as fixed-width feature columns."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    return multimodal.extract_features(d, "media", "doc_id", dim=8).orderBy(
        "doc_id"
    )


def q93_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-changing frame sampling over binary media (every 2nd
    64-byte frame), fingerprinted JVM-side. The fixture media is the UTF-8
    encoding of ASCII text, so the oracle slices the same frames with
    substring and hashes them."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    frames = multimodal.frame_sample(d, "media", "doc_id", frame_bytes=64, every_n=2)
    return frames.select(
        "doc_id", "frame_idx", F.md5("frame").alias("frame_md5")
    ).orderBy("doc_id", "frame_idx")


def q94_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS energy over raw media bytes (int8 PCM view, 256-byte
    windows) — ASCII fixture bytes equal their code points, so the oracle
    recomputes the RMS from ord(char)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    return multimodal.audio_windows(d, "media", "doc_id", window_bytes=256).orderBy(
        "doc_id", "win_idx"
    )


def q147_media_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media detection (multimodal.media_dup_pairs): 48-bit
    perceptual block hash over the raw bytes, pigeonhole band blocking,
    exact bit_count verify — the dedup surface extended to binary media
    columns. ASCII fixture bytes equal their code points, so the oracle
    re-derives block means, the strict-> sign rule, the hash fold and the
    pairwise Hamming check from ord(char) — integer byte sums are exact
    in float64, making the comparison engine-portable with no rounding."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("media")
    )
    out = multimodal.media_dup_pairs(
        d, "media", "doc_id", max_hamming=8, num_bits=48
    )
    return out.withColumn("hamming", F.col("hamming").cast("long")).orderBy(
        "ida", "idb"
    )


def q140_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 4 pseudo-random
    non-self partners per document via Knuth multiplicative-hash rank
    arithmetic — uniform spread, zero rand(), and exactly re-derivable in
    SQL (mlfeed.negative_samples)."""
    from fireworks_spark import mlfeed

    d = table(spark, sf_dir, "documents")
    out = mlfeed.negative_samples(d, k=4)
    return out.select(
        "doc_id", "neg_id", F.col("j").cast("long").alias("j")
    ).orderBy("doc_id", "j")


MLFEED_QUERIES = {
    "q140_negative_samples": q140_negative_samples,
    "q63_linear_score": q63_linear_score,
    "q64_batch_transform": q64_batch_transform,
    "q65_grouped_normalize": q65_grouped_normalize,
    "q66_media_meta": q66_media_meta,
    "q67_media_features": q67_media_features,
    "q93_frame_sample": q93_frame_sample,
    "q94_audio_windows": q94_audio_windows,
    "q147_media_dup_pairs": q147_media_dup_pairs,
}

_W_SQL = "[" + ", ".join(repr(w) for w in _WEIGHTS) + "]"

MLFEED_ORACLE = {
    # q147: block hash re-derived from ord(char) byte values (ASCII
    # fixture), then brute-force pairwise Hamming at the declared radius —
    # ground truth for the band blocking's recall.
    "q147_media_dup_pairs": """
        WITH pos AS (
          SELECT doc_id, unnest(range(1, length(text) + 1)) AS p, text
          FROM documents
        ), byt AS (
          SELECT doc_id,
                 ((p - 1) * 48) // length(text) AS blk,
                 ord(substring(text, p::INT, 1))::DOUBLE AS v
          FROM pos
        ), bm AS (
          SELECT doc_id, blk, AVG(v) AS m FROM byt GROUP BY doc_id, blk
        ), om AS (
          SELECT doc_id, AVG(v) AS om FROM byt GROUP BY doc_id
        ), sig AS (
          SELECT bm.doc_id,
                 CAST(SUM(CASE WHEN bm.m > om.om
                               THEN (1::BIGINT << blk::INT)
                               ELSE 0 END) AS BIGINT) AS h
          FROM bm JOIN om ON om.doc_id = bm.doc_id
          GROUP BY bm.doc_id
        )
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 8
        ORDER BY ida, idb
    """,
    "q140_negative_samples": """
        WITH ranked AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY doc_id) - 1 AS r,
                 COUNT(*) OVER () AS n
          FROM documents
        ),
        cand AS (
          SELECT doc_id, r, n, j,
                 (r * 2654435761 + (j + 1) * 40503) % n AS neg0
          FROM ranked, (SELECT unnest(range(4)) AS j)
        ),
        fixed AS (
          SELECT doc_id, j, n,
                 CASE WHEN neg0 = r THEN (neg0 + 1) % n ELSE neg0 END AS neg
          FROM cand
        )
        SELECT f.doc_id, rk.doc_id AS neg_id, f.j::BIGINT AS j
        FROM fixed f JOIN ranked rk ON rk.r = f.neg
        ORDER BY f.doc_id, f.j
    """,
    "q63_linear_score": (
        f"WITH w AS (SELECT {_W_SQL} AS w) "
        "SELECT vec_id, ROUND(list_reduce(list_transform("
        "range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * w[i]), "
        f"(acc, v) -> acc + v) + {_BIAS!r}, 4) + 0.0 AS score "
        "FROM embeddings, w ORDER BY vec_id"
    ),
    "q64_batch_transform": (
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper "
        "FROM documents ORDER BY doc_id"
    ),
    "q65_grouped_normalize": (
        "WITH s AS (SELECT c_mktsegment, AVG(c_acctbal) AS mu, "
        "sqrt(VAR_POP(c_acctbal)) AS sd FROM customer GROUP BY 1) "
        "SELECT c_custkey, ROUND((c_acctbal - mu) / sd, 3) + 0.0 AS z "
        "FROM customer JOIN s USING (c_mktsegment) ORDER BY c_custkey"
    ),
    "q66_media_meta": (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "md5(text) AS content_md5, 'unknown' AS format "
        "FROM documents ORDER BY doc_id"
    ),
    "q67_media_features": (
        "SELECT doc_id, "
        + ", ".join(
            f"ascii(substring(md5(text), {j + 1}, 1)) / 100.0 AS f{j}"
            for j in range(8)
        )
        + " FROM documents ORDER BY doc_id"
    ),
    "q93_frame_sample": (
        "SELECT doc_id, frame_idx::INT AS frame_idx, "
        "md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5 "
        "FROM documents, "
        "unnest(range(0, greatest((length(text) + 63) // 64, 1), 2)) "
        "t(frame_idx) ORDER BY doc_id, frame_idx"
    ),
    "q94_audio_windows": (
        "WITH pos AS (SELECT doc_id, "
        "unnest(range(1, length(text) + 1)) AS p, text FROM documents), "
        "w AS (SELECT doc_id, ((p - 1) // 256)::INT AS win_idx, "
        "ord(substring(text, p::INT, 1))::DOUBLE AS v FROM pos) "
        "SELECT doc_id, win_idx, COUNT(*)::INT AS n_bytes, "
        "ROUND(SQRT(AVG(v * v)), 4) + 0.0 AS rms "
        "FROM w GROUP BY doc_id, win_idx ORDER BY doc_id, win_idx"
    ),
}
