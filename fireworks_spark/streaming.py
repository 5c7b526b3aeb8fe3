"""Structured Streaming layer (M5, SURVEY.md §2.5).

The reference streams by Python iteration — forward-only sources
(fireworks/toolbox/pipes.py:48-63), per-batch stateful updates
(Normalizer.update, fireworks/toolbox/preprocessing.py:90-109), interleave
(junctions.py:30-45) — with no event time at all. The Spark re-expression is
Structured Streaming: a file/rate source, event-time windows with
watermarks for late data, and foreachBatch for stateful accumulation. The
batch queries q14/q25 are the oracle-checkable faces of the same
aggregations; tests/test_streaming.py asserts stream == batch on the events
fixture.

Scale: windowed aggregation state is bounded by the watermark (Spark drops
window state older than it); the one-pass normalizer keeps O(columns)
state on the driver regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fireworks_spark.functions.rounding import pround
from fireworks_spark.session import persist
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# events fixture schema with ts as epoch-nanos long — the TIMESTAMP(NANOS)
# testdata era, kept for nanos-written fixtures (nanosAsLong reads the
# column as bigint; tables.normalize_event_ts maps it to TIMESTAMP)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """File-source stream over an events directory (each file that lands in
    it is a micro-batch — the file source requires a directory, not a bare
    file).

    The file source needs a declared schema; rather than hardcode one era of
    the testdata's physical ts type, peek at the directory with a batch read
    (footer-only, no data scan) and declare exactly what is on disk. The ts
    column then goes through the same ``tables.normalize_event_ts`` as the
    batch reader — bigint epoch-nanos, timestamp[us] (NTZ), and true
    TIMESTAMP parquet all normalize to identical session-tz TIMESTAMP
    values, so stream and batch stay value-identical by construction.

    An EMPTY watch directory (normal at stream start — files land later)
    has no footer to peek; pass ``schema`` to declare the expected file
    layout up front (it also skips the peek), else the declared schema
    falls back to ``EVENTS_RAW_SCHEMA`` — the normalize still applies
    when files arrive."""
    from pyspark.errors import AnalysisException

    from fireworks_spark.tables import normalize_event_ts

    if (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # same runtime pinning as tables.table: the NTZ->TIMESTAMP cast and
    # window alignment must be UTC wall-clock arithmetic in ANY session
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if schema is None:
        try:
            schema = spark.read.parquet(path).schema
        except AnalysisException:  # dir exists but holds no files yet
            schema = EVENTS_RAW_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_event_ts(reader.parquet(path))


def tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling window counts/sums — the streaming face of the
    declared batch query q25 (DATE_TRUNC hour == window start for 1-hour
    tumbling windows). The watermark bounds state: windows older than
    max(event time) - watermark are finalized and dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            F.col("w.start").alias("h"), "event_type", "cnt", "sum_val"
        )
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window variant (each event lands in window/slide buckets)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (F.session_window merges overlapping per-event windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state:
    dropDuplicatesWithinWatermark keeps a key only until the watermark
    passes it, so state size tracks the (event-time) window of in-flight
    duplicates instead of the whole history — the streaming counterpart of
    batch exact_dedup, for at-least-once sources that can re-deliver.

    ``keys`` defaults to [event_id]. Rows whose duplicate arrives within
    the watermark horizon are emitted once; a duplicate arriving later
    than the horizon is a NEW row by definition of the contract (the
    batch/stream parity test injects duplicates inside the horizon only).
    """
    keys = keys or ["event_id"]
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lower: str = "interval 0 seconds",
    upper: str = "interval 1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: right rows within (lower, upper) of the
    left row's event time, per key. Both sides carry watermarks so the
    join state is purged once event time passes the range — the unbounded
    state trap of naive stream joins is exactly what the time bound
    removes. Returns (key, l_event, r_event, l_ts, r_ts)."""
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("k"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("rk"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.expr(f"l_ts + {lower}"))
        & (F.col("r_ts") <= F.expr(f"l_ts + {upper}"))
        & (F.col("l_event") != F.col("r_event")),
    ).select("k", "l_event", "r_event", "l_ts", "r_ts")


def scratch_dir(prefix: str = "fw_stream_") -> str:
    """Ephemeral scratch directory for replay staging and availableNow
    checkpoints: prefers a RAM-backed tmpfs when one is mounted, because
    the streaming commit path fsyncs every offset/commit/state-delta file
    and this host's ext4 charges ~9 ms per fsynced file vs ~0.1 ms on
    tmpfs (measured r15) — dozens of such files per replay made the
    checkpoint filesystem, not the computation, a dominant term of every
    small-fixture replay. Override with ``FIREWORKS_SCRATCH_DIR``; falls
    back to the normal tempdir when no tmpfs exists.

    Scale note: this is the test/dev replay analog of pointing Spark's
    local scratch at fast local disk (guide §6 file layout). DURABLE
    production checkpoints must stay on storage that survives the
    machine (object store / HDFS) — a restartable deployment passes its
    own checkpointLocation, as q174's restart harness does."""
    from fireworks_spark.scratch import scratch_dir as _sd

    return _sd(prefix)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain an availableNow stream into an in-memory table (test/dev sink):
    processes everything currently available, then stops. The throwaway
    checkpoint lives in :func:`scratch_dir` (tmpfs when available) — with
    no explicit location Spark would put it under java.io.tmpdir on the
    slow-fsync filesystem."""
    import shutil

    ck = scratch_dir("fw_ck_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def stateful_running_totals(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    running (count, sum) carried in the state store across micro-batches —
    the general form of the reference's update-hook accumulation
    (Model.update firing per batch, model.py:153-166), with state that
    survives restarts via the checkpoint.

    Emits one updated row per key per micro-batch (output mode 'update');
    state is O(1) per key, partitioned by the grouping key across
    executors."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf[value_col].sum())
        state.update((n, tot))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [tot]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} long, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_funnel(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming funnel reach: per-key (reached, last_ts) state advanced
    by the SAME greedy earliest-match rule as timeagg.funnel_counts, one
    micro-batch at a time (update mode; applyInPandasWithState). Events
    inside a batch are sorted by (ts, type) before folding, so the result
    equals the batch funnel EXACTLY whenever arrival order respects event
    time per key (replays, time-sliced backfills — asserted stream==batch
    in tests and q165). Under genuinely out-of-order arrival the greedy
    state cannot rewind and may under-count a step; that is the
    processing-time semantics every incremental funnel has — re-run the
    batch operator for the exact answer.

    State is two scalars per key; emits (key, reached) each update."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k = len(steps)

    def fn(key, pdfs, state: GroupState):
        reached, last_ts = (
            (state.get[0], state.get[1]) if state.exists else (0, None)
        )
        rows = [p for p in pdfs if len(p)]
        if rows:
            pdf = (
                pd.concat(rows, ignore_index=True)
                .sort_values([ts_col, type_col])
            )
            for ts, y in zip(pdf[ts_col], pdf[type_col]):
                if (
                    reached < k
                    and y == steps[reached]
                    and (last_ts is None or ts > last_ts)
                ):
                    reached += 1
                    last_ts = ts
        state.update((int(reached), last_ts))
        yield pd.DataFrame(
            {key_col: [key[0]], "reached": [int(reached)]}
        )

    return (
        events.filter(F.col(type_col).isin(list(steps)))
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=f"{key_col} long, reached int",
            stateStructType="reached int, last_ts timestamp",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_topk(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    k: int = 3,
) -> DataFrame:
    """Per-key top-k values maintained across micro-batches — a bounded
    ORDER-STATISTIC state: exactly one <= k-element sorted array per key
    lives in the state store, and because the fold (merge new values, keep
    the k largest) is associative and idempotent on the kept set, replay
    after a restart converges to the same answer. Emits the key's current
    top-k each micro-batch (update mode).

    Implemented on applyInPandasWithState. Spark 4's
    transformWithStateInPandas (typed state variables + timers + TTL) is
    the drop-in upgrade — the processor is the same fold — but its state
    server needs a working google.protobuf in the Python workers, which
    this container lacks; the fold semantics are API-independent."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        cur = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            cur.extend(float(v) for v in pdf[value_col])
        cur = sorted(cur, reverse=True)[:k]
        state.update((cur,))
        yield pd.DataFrame({key_col: [key[0]], "topk": [cur]})

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} long, topk array<double>",
        stateStructType="vals array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class StreamingNormalizer:
    """One-pass streaming mean/variance with standardization — the
    reference's Normalizer (preprocessing.py:49-129): ``update`` folds each
    micro-batch into running (n, sum, sumsq); ``compile`` closes the stats;
    ``forward`` standardizes any DataFrame with them.

    Per batch, the heavy work (count/sum/sumsq) is a distributed partial
    aggregation; only the 3 scalars per column reach the driver, so state is
    O(columns) forever. Plug ``foreach_batch()`` into
    ``writeStream.foreachBatch`` to learn stats from a live stream.
    """

    def __init__(self, cols: list[str]):
        self.cols = list(cols)
        self.n = 0
        self.sums = dict.fromkeys(cols, 0.0)
        self.sumsqs = dict.fromkeys(cols, 0.0)

    def update(self, batch_df: DataFrame) -> None:
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in self.cols:
            aggs.append(F.sum(c).alias(f"_s_{c}"))
            aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"_q_{c}"))
        row = batch_df.agg(*aggs).collect()[0]
        self.n += row["_n"]
        for c in self.cols:
            self.sums[c] += row[f"_s_{c}"] or 0.0
            self.sumsqs[c] += row[f"_q_{c}"] or 0.0

    def compile(self) -> dict[str, tuple[float, float]]:
        """{col: (mean, stddev_pop)} from the accumulated state."""
        out = {}
        for c in self.cols:
            mu = self.sums[c] / self.n
            var = max(self.sumsqs[c] / self.n - mu * mu, 0.0)
            out[c] = (mu, var**0.5)
        return out

    def forward(self, df: DataFrame, suffix: str = "_std") -> DataFrame:
        stats = self.compile()
        for c in self.cols:
            mu, sd = stats[c]
            df = df.withColumn(
                f"{c}{suffix}", (F.col(c) - F.lit(mu)) / F.lit(sd)
            )
        return df

    def foreach_batch(self):
        return lambda batch_df, _epoch_id: self.update(batch_df)


def near_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "2 hours",
    num_hashes: int = 8,
    n: int = 3,
    sig_col: str = "_sig",
    portable: bool = False,
) -> DataFrame:
    """Streaming NEAR-duplicate dedup: a row-wise (shuffle-free, so
    streaming-legal) minhash signature per document, then
    dropDuplicatesWithinWatermark on the whole signature — bounded state,
    exactly like dedup_stream, but keyed on content similarity instead of
    identity.

    Semantics: a doc is dropped iff all ``num_hashes`` minhash values match
    an earlier doc inside the watermark horizon. Two docs at Jaccard J
    collide with probability J^k — at the default k=8, a re-crawl at
    J=0.98 is caught 85% of the time while a merely-related pair at J=0.5
    survives 99.6% of the time. Raise k for precision, lower it for recall;
    k=1..4 approaches band-style aggressiveness. Documents with fewer than
    ``n`` words carry no shingles and fall back to an exact-text signature
    (they dedup only against identical text, never against each other).

    The signature projection mirrors minhash_signatures_rowwise; the
    batch/stream parity is asserted in tests (same signatures => stream
    keep-set == batch dropDuplicates keep-set per micro-batch replay).

    ``portable=True`` swaps xxhash64 for the md5-based 60-bit portable
    hash (dedup.portable_token_hash60 over the seed-prefixed gram text),
    so an ANSI-ish SQL engine derives bit-identical signatures from the
    raw text — the q33/q102 convention that turns a rows-only check into
    a value oracle (q172). Default stays on xxhash64: one fused JVM hash
    per (seed, gram) vs md5+substring+conv.
    """
    from fireworks_spark.functions.text import words
    from fireworks_spark.operators.dedup import ngrams_of, portable_token_hash60

    if portable:
        d = docs.withColumn("_w", words(text_col)).withColumn(
            "_shg", F.array_distinct(ngrams_of(F.col("_w"), n))
        )
        def _pmin(k: int):
            # NOTE: not `lambda g, k=k` — a two-parameter lambda makes
            # transform() pass the ELEMENT INDEX as the second argument
            return F.array_min(
                F.transform(
                    "_shg",
                    lambda g: portable_token_hash60(
                        F.concat(F.lit(f"{k}|"), g)
                    ),
                )
            ).cast("string")

        mins = [_pmin(k) for k in range(num_hashes)]
        sig = F.when(F.size("_shg") > 0, F.concat_ws("|", *mins)).otherwise(
            F.concat(
                F.lit("exact|"),
                portable_token_hash60(F.col(text_col)).cast("string"),
            )
        )
        d = d.withColumn(sig_col, sig).drop("_w", "_shg")
    else:
        d = docs.withColumn("_w", words(text_col)).withColumn(
            "_sh",
            F.array_distinct(
                F.transform(
                    ngrams_of(F.col("_w"), n), lambda s: F.xxhash64(s)
                )
            ),
        )

        def _hash_k(k: int):
            return lambda s: F.xxhash64(F.lit(k), s)

        mins = [
            F.array_min(F.transform("_sh", _hash_k(k))).cast("string")
            for k in range(num_hashes)
        ]
        sig = F.when(
            F.size("_sh") > 0, F.concat_ws("|", *mins)
        ).otherwise(
            F.concat(
                F.lit("exact|"), F.xxhash64(F.col(text_col)).cast("string")
            )
        )
        d = d.withColumn(sig_col, sig).drop("_w", "_sh")
    return d.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        [sig_col]
    )


def decontaminate_stream(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    exact_max_shingles: int = 200_000,
) -> DataFrame:
    """Streaming benchmark decontamination: drop every streamed doc sharing
    a word n-gram with the static ``benchmark`` — fully STATELESS, so it
    runs under any trigger with zero state store.

    The benchmark's distinct hashed shingles are captured at plan-build
    time. When they fit ``exact_max_shingles`` (eval sets always do) they
    ship as one array literal and the per-row check is
    ``arrays_overlap(doc_shingles, bench)`` — EXACT, same answer as batch
    ``dedup.decontaminate``. A larger benchmark falls back to the 16 KiB
    Bloom bitset (``dedup.bloom_bitset``): per-row ``exists(shingles,
    bloom probe)``, no false negatives, false-positive drops at the
    configured ~2e-9/shingle rate — the documented approximate mode.

    Both modes are row-local expressions: no explode, no join, no shuffle
    — each micro-batch filters at scan speed regardless of stream volume.
    """
    from fireworks_spark.functions.text import words
    from fireworks_spark.operators import dedup as dd

    bench_sh = (
        dd.shingle_table(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
    )
    # materialize the words array BEFORE ngrams_of: the tokenizer
    # expression inside the gram lambda would re-run per element_at — 3n
    # tokenizations per gram (measured 9.5s vs 0.9s on 5k docs)
    spark = docs.sparkSession
    staged = docs.withColumn("_w", words(text_col)).withColumn(
        "_sh",
        F.array_distinct(
            F.transform(
                dd.ngrams_of(F.col("_w"), n), lambda s: F.xxhash64(s)
            )
        ),
    ).drop("_w")
    # The bench set rides along as DATA in a broadcast 1-row stream-static
    # crossJoin, NOT as a plan literal: streaming micro-batch planning
    # does not constant-fold a |bench|-element array literal the way batch
    # does — every trigger re-materialized it (measured 10.4s vs 2.9s for
    # the whole 2-batch replay at 2.6k shingles). The join row is data, so
    # nothing re-evaluates.
    n_bench = bench_sh.count()
    if n_bench <= exact_max_shingles:
        bench = [r["shingle"] for r in bench_sh.collect()]
        bdf = spark.createDataFrame([(bench,)], "_bench array<bigint>")
        staged = staged.crossJoin(F.broadcast(bdf))
        tainted = F.arrays_overlap("_sh", F.col("_bench"))
        aux = ["_bench"]
    else:
        # k stays at bloom_bitset's/bloom_probe_expr's shared default so
        # build and probe agree; the probe expression is the ONE shared
        # definition (dedup.bloom_probe_expr), not a copy
        bits = dd.bloom_bitset(bench_sh, "shingle")
        num_bits = len(bits) * 64
        bdf = spark.createDataFrame([(bits,)], "_bits array<bigint>")
        staged = staged.crossJoin(F.broadcast(bdf))
        tainted = F.exists(
            "_sh",
            lambda s: dd.bloom_probe_expr(s, F.col("_bits"), num_bits),
        )
        aux = ["_bits"]
    # The verdict is materialized as a column TAINTED with an always-true
    # nondeterministic conjunct: a plain filter on the derived value gets
    # pushdown-SUBSTITUTED through the projection, re-inlining the whole
    # shingle pipeline (no CSE in lambda bodies) — measured 9.5s vs 0.6s
    # on 5k docs. Nondeterministic predicates are never pushed. (rand,
    # not monotonically_increasing_id: the latter is rejected in
    # streaming plans; rand is nondeterministic AND streaming-legal.)
    guard = F.rand(7) > F.lit(-1.0)
    return (
        staged.withColumn(
            "_t", F.coalesce(tainted, F.lit(False)) & guard
        )
        .filter(~F.col("_t"))
        .drop("_sh", "_t", *aux)
    )


def dedup_stream_against(
    stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 2,
    n: int = 3,
) -> None:
    """Incremental near-dedup of a document stream AGAINST A STATIC CORPUS:
    every micro-batch drops its docs whose exact word-n-gram Jaccard with
    any corpus doc reaches ``threshold``; survivors append to ``out_path``
    as parquet — the streaming face of :func:`dedup.minhash_join` (the
    "dedup the new crawl against what we already have" loop).

    The corpus side is prepared ONCE at plan-build time and persisted: its
    banded MinHash table is the signature store, its hashed-shingle sets
    the verify store. Per batch the work is batch-sized: row-wise batch
    signatures (no shuffle), an equi-join of batch bands against the
    persisted corpus bands (groups = band buckets, never all-pairs), an
    array_intersect verify on collisions only, one anti-join. Engine
    state is zero — exactness against the corpus needs no watermark; for
    WITHIN-stream dedup compose with near_dedup_stream upstream.
    """
    from fireworks_spark.operators import dedup as dd

    corpus_sets = persist(dd.shingle_sets(corpus, id_col, text_col, n))
    corpus_bands = persist(
        dd.lsh_bands(
            dd.minhash_signatures_rowwise(
                corpus, id_col, text_col, num_hashes, n
            ),
            id_col,
            num_hashes,
            rows_per_band,
        )
        .select(F.col(id_col).alias("rid"), "band_idx", "band_key")
    )
    csets = corpus_sets.select(
        F.col(id_col).alias("rid"), F.col("shingles").alias("_sb")
    )
    thr = F.lit(threshold - 0.0005)  # jac rounds to 3 decimals in the join

    def fb(batch: DataFrame, batch_id: int) -> None:
        bsets = dd.shingle_sets(batch, id_col, text_col, n)
        bbands = dd.lsh_bands(
            dd.minhash_signatures_rowwise(
                batch, id_col, text_col, num_hashes, n
            ),
            id_col,
            num_hashes,
            rows_per_band,
        ).select(F.col(id_col).alias("lid"), "band_idx", "band_key")
        cand = (
            bbands.join(corpus_bands, ["band_idx", "band_key"])
            .select("lid", "rid")
            .distinct()
        )
        inter = F.size(F.array_intersect("_sa", "_sb"))
        jac = inter / (F.size("_sa") + F.size("_sb") - inter)
        tainted = (
            cand.join(
                bsets.select(
                    F.col(id_col).alias("lid"),
                    F.col("shingles").alias("_sa"),
                ),
                "lid",
            )
            .join(csets, "rid")
            .filter(pround(jac, 3) >= thr)
            .select(F.col("lid").alias(id_col))
            .distinct()
        )
        batch.join(tainted, id_col, "left_anti").write.mode(
            "append"
        ).parquet(out_path)

    import shutil

    ck = scratch_dir("fw_ck_")
    try:
        q = (
            stream.writeStream.foreachBatch(fb)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    corpus_sets.unpersist()
    corpus_bands.unpersist()


def read_rollup_table(
    spark: SparkSession, table_path: str
) -> DataFrame | None:
    """Read the rollup table :func:`maintain_rollup_table` maintains,
    regardless of its commit protocol: a manifested table reads ONLY the
    newest committed generation's parquet parts (a plain directory read
    would also pick up superseded or uncommitted generations); a
    rename-protocol table reads the directory. Returns None when nothing
    has been committed yet."""
    import os

    from fireworks_spark import publish

    if publish.has_manifest(table_path):
        files = [
            f
            for f in publish.current_files(table_path)
            if f.endswith(".parquet")
        ]
        return spark.read.parquet(*files) if files else None
    if os.path.isdir(table_path) and any(
        f.endswith(".parquet") for f in os.listdir(table_path)
    ):
        return spark.read.parquet(table_path)
    return None


def maintain_rollup_table(
    stream: DataFrame,
    table_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "event_type",
    commit_protocol: str = "rename",
    keep_generations: int = 1,
) -> None:
    """Continuous-aggregate maintenance: keep a parquet table of windowed
    counts/sums up to date as events stream in — the streaming face of
    operators/timeagg.time_rollup (hypertable materialized rollup).

    Each micro-batch emits only the windows the batch CHANGED (output mode
    'update'); foreachBatch MERGEs them into the table with
    database.upsert_rows under the same atomic two-rename swap the Table
    mutations use. State inside the engine is bounded by the watermark;
    the table is the durable, queryable rollup.

    Scale: each batch's merge touches |changed windows| incoming rows
    against a table of bucket-cardinality rows — both tiny relative to the
    event stream that produced them; the events themselves never re-scan.

    The watermark must bound the stream's event-time DISORDER: once a
    window falls behind it, its state is evicted and stragglers are
    dropped (that is the deal that bounds state). Live tailing wants a
    short horizon; replaying unordered history wants either time-ordered
    input files or a watermark at least as long as the replay span.

    ``commit_protocol``: "rename" (default) keeps the two-rename swap —
    atomic against job failure, requires rename semantics (shared POSIX
    filesystem). "manifest" publishes each merge as a new generation
    committed by a single manifest write (fireworks_spark.publish) —
    object-store-safe, no rename, no crash window; read the table back
    with :func:`read_rollup_table` (plain ``spark.read.parquet`` on the
    directory would also see superseded generations). Under
    ``publish.object_store_semantics`` the manifest commit itself is
    fully rename-free (one direct PUT); the generation's parquet DATA
    files are written by Spark's own committer, which on a real object
    store should be the cloud-native one (e.g. the S3A magic committer)
    — a Hadoop-layer setting, orthogonal to this protocol, and safe
    either way because uncommitted generations are invisible to
    readers.
    ``keep_generations``: how many committed generations each merge
    retains (manifest protocol only). The default 1 keeps only the
    newest; a CONCURRENT external reader that resolved the manifest just
    before a merge commits could then find its files swept mid-scan —
    raise to 2+ to give readers one full merge interval of grace, the
    standard snapshot-retention trade (Iceberg's expire_snapshots).
    """
    import os
    import shutil

    from fireworks_spark import publish
    from fireworks_spark.database import upsert_rows

    if commit_protocol not in ("rename", "manifest"):
        raise ValueError(
            f"maintain_rollup_table: unknown commit_protocol "
            f"{commit_protocol!r} (expected 'rename' or 'manifest')"
        )

    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            F.col("w.start").alias("bucket"), key_col, "cnt", "sum_val"
        )
    )

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.withColumn(
            "_mk",
            F.concat_ws("|", F.col("bucket").cast("string"), F.col(key_col)),
        )
        # read_rollup_table resolves the upsert base for EITHER protocol —
        # in particular, a table previously maintained with
        # commit_protocol="manifest" and now run with "rename" must read
        # only the committed generation (a flat directory read would also
        # see superseded generations and resurrect stale windows); the
        # rename swap below then converts the table to flat layout.
        cur = read_rollup_table(spark, table_path)
        if cur is not None:
            cur = cur.withColumn(
                "_mk",
                F.concat_ws(
                    "|", F.col("bucket").cast("string"), F.col(key_col)
                ),
            )
            merged = upsert_rows(cur, batch, "_mk").drop("_mk")
        else:
            merged = batch.drop("_mk")
        if commit_protocol == "manifest":
            import glob as _glob

            gen, data_dir = publish.new_generation(table_path)
            try:
                merged.write.mode("overwrite").parquet(data_dir)
            except BaseException:
                shutil.rmtree(data_dir, ignore_errors=True)
                raise
            publish.commit_generation(
                table_path,
                gen,
                data_dir,
                sorted(_glob.glob(os.path.join(data_dir, "*.parquet"))),
                keep=keep_generations,
            )
            return
        publish.swap_dir(
            table_path, lambda tmp: merged.write.mode("overwrite").parquet(tmp)
        )

    ck = scratch_dir("fw_ck_")
    try:
        q = (
            agg.writeStream.foreachBatch(merge)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
