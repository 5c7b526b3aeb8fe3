"""ML-feed / UDF layer (SURVEY.md §2.6, M4) — the Arrow-batched bridge
between DataFrames and Python model code.

Reference counterparts: FunctionPipe applies a Python function per batch
(fireworks/toolbox/pipes.py:569-582), TensorPipe converts columns to tensors
at access time (pipes.py:584-607), BatchingPipe slices fixed-size minibatches
(pipes.py:536-567), and Model wraps a parameterized forward()
(fireworks/core/model.py:13-235). Spark-first:

- per-batch transforms are ``mapInPandas`` stages: Arrow moves columnar
  batches into the Python worker (10-100x over row-at-a-time UDFs), the
  transform is embarrassingly parallel over partitions, and batch size is
  bounded by spark.sql.execution.arrow.maxRecordsPerBatch — memory-safe at
  any table size;
- per-group transforms are ``applyInPandas`` (one shuffle on the keys);
- model parameters ride the closure (Spark broadcasts the serialized
  function to every executor once per job — the analog of the reference's
  params-as-Junction-components);
- driver-side training loops consume ``batch_iterator`` (toLocalIterator:
  one partition in flight, bounded driver memory).

Torch conversion happens inside the worker function (to_torch) and is
import-gated: the cluster-side plumbing (schemas, batching, Arrow exchange)
is identical with or without torch installed.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# batch transform (P13/P14)
# --------------------------------------------------------------------------


def batch_transform(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Apply a pandas-level function to every Arrow batch (FunctionPipe,
    reference pipes.py:569-582). ``fn`` sees a pd.DataFrame and returns one
    matching ``schema``; it runs executor-side on each batch independently —
    no state crosses batches, so the stage scales linearly."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fn(b)

    return df.mapInPandas(_gen, schema=schema)


def grouped_transform(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Per-group pandas transform (the reference's per-group Normalizer
    pattern, preprocessing.py:49-129): one shuffle on the keys, then each
    group becomes a single pandas frame executor-side."""
    return df.groupBy(*keys).applyInPandas(lambda pdf: fn(pdf), schema=schema)


# --------------------------------------------------------------------------
# model-as-transformer (P23/P24)
# --------------------------------------------------------------------------


class Model:
    """A parameterized batch transform (reference Model, model.py:13-235):
    ``forward(pdf) -> pdf`` plus a params dict. ``transform`` plans a
    mapInPandas stage whose closure carries the params — Spark ships them to
    executors once; no driver round-trips per batch.

    Subclass and override ``forward``; params must be picklable."""

    def __init__(self, params: dict[str, Any] | None = None):
        self.params = dict(params or {})

    def forward(self, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
        raise NotImplementedError

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return self.forward(pdf)

    def transform(self, df: DataFrame, schema: str) -> DataFrame:
        params, forward = self.params, type(self).forward

        def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            model = object.__new__(type(self))  # rebuild executor-side
            model.params = params
            for b in batches:
                yield forward(model, b)

        # closure captures type(self) + params only (picklable by design)
        _gen.__wrapped_model__ = type(self).__name__
        return df.mapInPandas(_gen, schema=schema)


class LinearModel(Model):
    """Fixed-weight affine scorer over an array column: y = w . x + b
    (the model_from_module analog for the simplest torch module, reference
    model.py:266-287). Vectorized: np.stack + matmul per Arrow batch."""

    def __init__(self, weights: list[float], bias: float = 0.0,
                 vec_col: str = "embedding", out_col: str = "score"):
        super().__init__(
            {"w": np.asarray(weights, dtype=np.float64), "b": float(bias),
             "vec_col": vec_col, "out_col": out_col}
        )

    def forward(self, pdf: pd.DataFrame) -> pd.DataFrame:
        p = self.params
        x = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[p["vec_col"]]]
        ) if len(pdf) else np.zeros((0, len(p["w"])))
        out = pdf.drop(columns=[p["vec_col"]]).copy()
        out[p["out_col"]] = x @ p["w"] + p["b"]
        return out


# --------------------------------------------------------------------------
# driver-side feed (P12)
# --------------------------------------------------------------------------


def batch_iterator(
    df: DataFrame, batch_size: int, drop_tail: bool = True
) -> Iterator[pd.DataFrame]:
    """Fixed-size pandas minibatches for a driver-side training loop
    (BatchingPipe, reference pipes.py:536-567 — including its drop-the-short-
    tail default). toLocalIterator streams one partition at a time, so driver
    memory is bounded by a partition, not the table."""
    buf: list[dict] = []
    have = 0
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row.asDict())
        have += 1
        if have == batch_size:
            yield pd.DataFrame(buf)
            buf, have = [], 0
    if buf and not drop_tail:
        yield pd.DataFrame(buf)


class Metrics:
    """Running metric accumulation across batches (the reference's Metrics
    accumulator pattern around its training loop, examples/mnist.py:176-207):
    each ``update`` folds one distributed partial-aggregate pass (count,
    sum, min, max per column) into driver-side totals; ``compile`` closes
    them into {col: {n, mean, min, max}}. State is O(columns) forever."""

    def __init__(self, cols: list[str]):
        self.cols = list(cols)
        self.n = 0
        self._sum = dict.fromkeys(cols, 0.0)
        self._min: dict[str, float | None] = dict.fromkeys(cols)
        self._max: dict[str, float | None] = dict.fromkeys(cols)

    def update(self, batch_df: DataFrame) -> None:
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in self.cols:
            aggs += [
                F.sum(c).alias(f"_s_{c}"),
                F.min(c).alias(f"_lo_{c}"),
                F.max(c).alias(f"_hi_{c}"),
            ]
        row = batch_df.agg(*aggs).collect()[0]
        self.n += row["_n"]
        for c in self.cols:
            self._sum[c] += row[f"_s_{c}"] or 0.0
            lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
            if lo is not None:
                cur = self._min[c]
                self._min[c] = lo if cur is None else min(cur, lo)
            if hi is not None:
                cur = self._max[c]
                self._max[c] = hi if cur is None else max(cur, hi)

    def compile(self) -> dict[str, dict[str, float]]:
        return {
            c: {
                "n": self.n,
                "mean": self._sum[c] / self.n if self.n else float("nan"),
                "min": self._min[c],
                "max": self._max[c],
            }
            for c in self.cols
        }


def suggest_arrow_batch_size(
    df: DataFrame, target_mb: float = 32.0, sample_rows: int = 1000
) -> int:
    """Rows per Arrow batch so a batch lands near ``target_mb`` in worker
    memory (the reference's too_big dynamic batch sizing,
    fireworks/toolbox/text.py:106-116). Samples a head of rows, measures
    their pandas footprint, extrapolates. Feed the result into
    spark.sql.execution.arrow.maxRecordsPerBatch."""
    import pyarrow as pa

    sample = df.limit(sample_rows).toPandas()
    if not len(sample):
        return 10_000
    # Arrow nbytes is what actually crosses the worker boundary (pandas
    # deep-measures object cells as pointers and misses array payloads)
    bytes_per_row = pa.Table.from_pandas(sample).nbytes / len(sample)
    return max(64, int(target_mb * 1024 * 1024 / max(bytes_per_row, 1.0)))


def fit_linear(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    lr: float = 0.05,
    epochs: int = 5,
    batch_size: int = 256,
    seed: int = 0,
) -> LinearModel:
    """Driver-side minibatch-SGD training loop fed by the Spark batch
    iterator — the torch-free analog of the reference's IgniteJunction
    training loop (fireworks/extensions/training.py:50-183): Spark
    shuffles/batches the data (a fresh seed per epoch), the driver does the
    gradient steps, and the fitted parameters go back out as a LinearModel
    whose transform() scores distributed.

    Least-squares gradient per batch: g_w = 2/n * X^T(Xw + b - y).
    Convergence on generated linear data is asserted in tests
    (the reference's model_test.py:238-431 strategy)."""
    from fireworks_spark.operators.toolbox import shuffle as _shuffle

    w: np.ndarray | None = None
    b = 0.0
    for epoch in range(epochs):
        shuffled = _shuffle(df.select(vec_col, label_col), seed + epoch)
        for batch in batch_iterator(shuffled, batch_size, drop_tail=False):
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
            )
            y = batch[label_col].to_numpy(dtype=np.float64)
            if w is None:
                w = np.zeros(X.shape[1])
            err = X @ w + b - y
            w -= lr * 2.0 * (X.T @ err) / len(y)
            b -= lr * 2.0 * float(err.mean())
    return LinearModel(list(w), b, vec_col=vec_col)


def to_torch(pdf: pd.DataFrame, columns: list[str]):
    """Convert pandas columns to torch tensors inside a worker fn (TensorPipe,
    reference pipes.py:584-607). Import-gated: raises a clear error where
    torch is absent; everything upstream of this call is torch-free."""
    try:
        import torch
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "to_torch requires torch on the executors; the Arrow feed "
            "itself works without it"
        ) from e
    return {c: torch.as_tensor(np.stack(pdf[c].to_numpy())) for c in columns}


# --------------------------------------------------------------------------
# Python UDTF (§2.6): table-valued function surface
# --------------------------------------------------------------------------


def register_tokens_udtf(spark, name: str = "tokens"):
    """Register a Python UDTF `tokens(text)` -> (pos, token) rows, usable in
    SQL as ``SELECT d.doc_id, t.* FROM docs d, LATERAL tokens(d.text) t``.

    This is the table-valued corner of the §2.6 UDF/UDAF/UDTF surface: a
    cardinality-changing function evaluated per input row. It exists for
    API parity and for logic that genuinely needs imperative row expansion;
    for plain tokenization the JVM path (posexplode(split())) is the hot
    path — the test asserts both produce identical rows. Returns the UDTF
    handle (also usable directly in the DataFrame API)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokens:
        def eval(self, text: str):
            for i, t in enumerate((text or "").split()):
                yield i, t

    spark.udtf.register(name, Tokens)
    return Tokens


def negative_samples(
    df,
    k: int = 4,
    id_col: str = "doc_id",
) -> "DataFrame":
    """Deterministic uniform negative sampling for contrastive training:
    for each anchor row, ``k`` pseudo-random OTHER rows, the standard
    in-batch-negatives replacement when the batch is the whole corpus.

    Ranks are dense contiguous 0..N-1 in id order even when ids have gaps,
    computed with toolbox.with_row_index — the distributed two-pass
    zipWithIndex design — NOT a global window (a partitionBy-less window
    funnels the whole corpus through one task); negative j of anchor r is
    rank ``(r*2654435761 + (j+1)*40503) mod N``, nudged one forward when
    it collides with the anchor itself — Knuth multiplicative-hash
    constants, so negatives spread uniformly yet every engine can
    re-derive them exactly (the oracle does). One distributed rank pass +
    a generate + one equi-join on rank; no rand().

    Two documented consequences of the closed-form draw: an anchor can
    repeat a negative when N divides 40503*(j'-j) (callers needing
    distinct negatives per anchor should dedupe on (id, neg_id)), and the
    row-index pass persists its range buckets, which ``release_caches``
    frees once the result is materialized.

    Returns (anchor id, neg_rank's id as neg_id, j).
    """
    from fireworks_spark.operators.toolbox import with_row_index

    n = df.count()
    if n < 2:
        raise ValueError("need at least 2 rows to sample negatives")
    ranked = with_row_index(df.select(id_col), [id_col], "_r")
    j = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    cand = ranked.select(F.col(id_col), F.col("_r"), j).withColumn(
        "_neg",
        F.pmod(
            F.col("_r") * F.lit(2654435761) + (F.col("j") + 1) * F.lit(40503),
            F.lit(n),
        ),
    ).withColumn(
        "_neg",
        F.when(F.col("_neg") == F.col("_r"), F.pmod(F.col("_neg") + 1, F.lit(n)))
        .otherwise(F.col("_neg")),
    )
    other = ranked.select(
        F.col("_r").alias("_neg"), F.col(id_col).alias("neg_id")
    )
    return cand.join(other, "_neg").select(id_col, "neg_id", "j")
