"""Fluent Pipe facade: the reference's user-facing composition surface
(pipes wrap pipes via ``input=``, reference fireworks/core/pipe.py and
fireworks/toolbox/pipes.py) re-expressed as method chaining over a lazy
DataFrame. Each method delegates to the operator library and returns a new
Pipe, so a reference pipeline like

    ShufflerPipe(input=RepeaterPipe(input=ds, num_repeats=3), seed=7)

reads here as

    Pipe(ds).repeat(3).shuffle(seed=7)

Nothing executes until an action (collect / batches / write) — the chain IS
the Catalyst logical plan, which is what makes the facade free: no
per-stage materialization, full pushdown/pruning across the whole chain.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame

from fireworks_spark.operators import toolbox
from fireworks_spark.session import persist


class Pipe:
    """Lazy chaining wrapper over a DataFrame (reference Pipe-graph parity).

    ``df`` is the underlying DataFrame at every step — drop to it freely
    with ``.df`` for anything the facade doesn't wrap.
    """

    def __init__(self, df: DataFrame):
        self.df = df

    # -- composition ----------------------------------------------------
    def apply(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipe":
        """HookedPassThroughPipe / FunctionPipe shape: arbitrary
        DataFrame -> DataFrame stage."""
        return Pipe(self.df.transform(fn))

    def __getitem__(self, cols) -> "Pipe":
        """Column projection (Message column indexing parity)."""
        if isinstance(cols, str):
            cols = [cols]
        return Pipe(self.df.select(*cols))

    # -- toolbox pipes ---------------------------------------------------
    def shuffle(self, seed: int | None = None) -> "Pipe":
        """ShufflerPipe (P10)."""
        return Pipe(toolbox.shuffle(self.df, seed=seed))

    def repeat(self, n: int, epoch_col: str | None = None) -> "Pipe":
        """RepeaterPipe (P9)."""
        return Pipe(toolbox.repeat(self.df, n, epoch_col=epoch_col))

    def label(self, title: str, labels_col: str = "labels") -> "Pipe":
        """Title2LabelPipe (P7)."""
        return Pipe(toolbox.with_label(self.df, title, labels_col))

    def label_index(self, col: str, index_col: str = "label_idx") -> "Pipe":
        """LabelerPipe index half (P8)."""
        return Pipe(toolbox.label_index(self.df, col, index_col))

    def standardize(self, cols: list[str]) -> "Pipe":
        """Normalizer apply (P21)."""
        return Pipe(toolbox.standardize(self.df, cols))

    def row_index(self, order_cols: list[str], index_col: str = "row_idx") -> "Pipe":
        """Global positional index (Message row semantics)."""
        return Pipe(toolbox.with_row_index(self.df, order_cols, index_col))

    def hstack(
        self,
        other: "Pipe | DataFrame",
        order_cols: list[str],
        other_order_cols: list[str] | None = None,
    ) -> "Pipe":
        """Positional horizontal concat (Message.merge)."""
        o = other.df if isinstance(other, Pipe) else other
        return Pipe(
            toolbox.hstack(self.df, o, order_cols, other_order_cols or order_cols)
        )

    def interleave(self, *others: "Pipe | DataFrame", order_cols: list[str]) -> "Pipe":
        """ClockworkHubJunction (P18): deterministic round-robin."""
        dfs = [self.df] + [o.df if isinstance(o, Pipe) else o for o in others]
        return Pipe(toolbox.interleave(dfs, order_cols))

    def split(
        self, key_col: str, test_fraction: float = 0.2, seed: int = 0
    ) -> tuple["Pipe", "Pipe"]:
        """train_test_split (P20), deterministic hash variant."""
        parts = toolbox.hash_split(
            self.df,
            {"train": 1.0 - test_fraction, "test": test_fraction},
            key_col,
            seed=seed,
        )
        return Pipe(parts["train"]), Pipe(parts["test"])

    # -- time-series / pipeline operators --------------------------------
    def asof_join(
        self,
        other: "Pipe | DataFrame",
        key_cols: list[str],
        ts_col: str,
        right_cols: list[str],
        direction: str = "backward",
        tolerance_micros: int | None = None,
    ) -> "Pipe":
        """Nearest-predecessor/successor join (operators/asof.py)."""
        from fireworks_spark.operators.asof import asof_join

        rhs = other.df if isinstance(other, Pipe) else other
        return Pipe(
            asof_join(
                self.df, rhs, key_cols, ts_col, right_cols,
                direction=direction, tolerance_micros=tolerance_micros,
            )
        )

    def interval_join(
        self,
        other: "Pipe | DataFrame",
        ts_col: str,
        start_col: str,
        end_col: str,
        keys: list[str] | None = None,
    ) -> "Pipe":
        """Point-in-interval join (operators/interval.py, bucketized)."""
        from fireworks_spark.operators.interval import interval_join

        rhs = other.df if isinstance(other, Pipe) else other
        return Pipe(
            interval_join(self.df, rhs, ts_col, start_col, end_col, keys=keys)
        )

    def time_rollup(
        self,
        ts_col: str,
        value_col: str,
        grains: tuple[str, ...] = ("hour", "day", "week"),
        keys: list[str] | None = None,
    ) -> "Pipe":
        """Multi-granularity rollup in one pass (operators/timeagg.py)."""
        from fireworks_spark.operators.timeagg import time_rollup

        return Pipe(
            time_rollup(self.df, ts_col, value_col, grains=grains, keys=keys)
        )

    def rebalance(self, stratum_col: str, key_col: str) -> "Pipe":
        """Uniform-mix deterministic downsampling (toolbox.rebalance_strata)."""
        return Pipe(toolbox.rebalance_strata(self.df, stratum_col, key_col))

    def heavy_hitters(self, key_col: str, capacity: int = 100) -> "Pipe":
        """Misra-Gries sketch + exact recount (operators/sketch.py)."""
        from fireworks_spark.operators.sketch import heavy_hitters_sketch

        return Pipe(heavy_hitters_sketch(self.df, key_col, capacity=capacity))

    def cache(self) -> "Pipe":
        """CachingPipe / MessageCache (P5/P6/P22): block-manager persist.
        Free it with ``release_caches`` once the results built on it are
        materialized."""
        return Pipe(persist(self.df))

    # -- corpus operators -------------------------------------------------
    def dedup(
        self,
        threshold: float | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Pipe":
        """Corpus dedup: exact (hash) when ``threshold`` is None, else
        MinHash-LSH near-dup at that Jaccard threshold keeping each
        cluster's minimum-id member (operators/dedup.py)."""
        from fireworks_spark.operators import dedup as dd

        if threshold is None:
            keep = dd.exact_dedup(
                self.df, id_col=id_col, text_col=text_col
            ).withColumnRenamed("keep_id", id_col)
            return Pipe(self.df.join(keep.select(id_col), id_col, "left_semi"))
        pairs = dd.minhash_dedup_pairs(
            self.df, threshold=threshold, id_col=id_col, text_col=text_col
        )
        return Pipe(dd.keep_canonical(self.df, pairs, id_col=id_col))

    def fuzzy_join(
        self,
        other: "Pipe | DataFrame",
        id_col: str,
        other_id_col: str,
        text_col: str,
        other_text_col: str,
        max_dist: int = 1,
    ) -> "Pipe":
        """Exact edit-distance join at radius 1 or 2 (operators/fuzzy.py
        deletion-neighborhood blocking) — dirty-to-canonical entity
        resolution."""
        from fireworks_spark.operators.fuzzy import fuzzy_join

        rhs = other.df if isinstance(other, Pipe) else other
        return Pipe(
            fuzzy_join(
                self.df, rhs, id_col, other_id_col, text_col,
                other_text_col, max_dist,
            )
        )

    def substring_dedup(
        self,
        k: int = 20,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Pipe":
        """ExactSubstr removal: delete every token covered by a k-token
        window duplicating an earlier occurrence corpus-wide
        (dedup.substring_dedup)."""
        from fireworks_spark.operators import dedup as dd

        return Pipe(
            dd.substring_dedup(self.df, k=k, id_col=id_col, text_col=text_col)
        )

    def contamination(
        self,
        benchmark: "Pipe | DataFrame",
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 13,
        threshold: float = 0.8,
    ) -> "Pipe":
        """Graded n-gram contamination report — overlap fraction per doc
        plus a threshold verdict (dedup.contamination_report); the graded
        companion to :meth:`decontaminate`'s binary drop."""
        from fireworks_spark.operators import dedup as dd

        bench = benchmark.df if isinstance(benchmark, Pipe) else benchmark
        return Pipe(
            dd.contamination_report(
                self.df, bench, id_col=id_col, text_col=text_col,
                n=n, threshold=threshold,
            )
        )

    def media_dups(
        self,
        bin_col: str = "media",
        id_col: str = "doc_id",
        max_hamming: int = 8,
        num_bits: int = 48,
    ) -> "Pipe":
        """Near-duplicate media pairs via byte block hashing + banded
        Hamming search (multimodal.media_dup_pairs)."""
        from fireworks_spark.operators import multimodal

        return Pipe(
            multimodal.media_dup_pairs(
                self.df, bin_col, id_col, max_hamming, num_bits
            )
        )

    def quality(self, text_col: str = "text") -> "Pipe":
        """Quality-score columns (textstats.with_quality_score)."""
        from fireworks_spark.operators import textstats

        return Pipe(textstats.with_quality_score(self.df, text_col=text_col))

    def gopher(
        self, id_col: str = "doc_id", text_col: str = "text"
    ) -> "Pipe":
        """Gopher quality-rule statistics + pass verdict
        (textstats.gopher_stats)."""
        from fireworks_spark.operators import textstats

        return Pipe(textstats.gopher_stats(self.df, id_col, text_col))

    def clean_lines(
        self,
        min_words_per_line: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kw,
    ) -> "Pipe":
        """C4-style line-level cleaning (textstats.c4_line_filter)."""
        from fireworks_spark.operators import textstats

        return Pipe(
            textstats.c4_line_filter(
                self.df,
                id_col,
                text_col,
                min_words_per_line=min_words_per_line,
                **kw,
            )
        )

    def repetition(
        self, id_col: str = "doc_id", text_col: str = "text"
    ) -> "Pipe":
        """Full Gopher n-gram repetition rules (ranking.ngram_repetition)."""
        from fireworks_spark.operators import ranking

        return Pipe(ranking.ngram_repetition(self.df, id_col, text_col))

    def funnel(
        self,
        steps: list[str],
        key_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        max_events_per_key: int | None = None,
        skew_check: bool | float = False,
        skew_frac: float = 0.05,
        skew_min: int = 10_000,
    ) -> "Pipe":
        """Ordered event-funnel reach (timeagg.funnel_counts).

        ``max_events_per_key`` is the heavy-key guard (exact run-collapse
        + per-(key, type) cap — see timeagg._funnel_event_arrays for the
        exactness contract). ``skew_check=True`` runs ONE cheap diagnostic
        aggregation (count per key, then max/sum — partially aggregated
        map-side, driver sees two numbers) before building the funnel: if
        the heaviest key holds more than ``skew_frac`` of the funnel's own
        events AND more than ``skew_min`` events outright, a warning
        recommends setting the cap — the silent failure mode at 100 TB is
        one bot key folding millions of events into a single task's
        array. ``skew_check=<fraction in (0, 1)>`` runs the same probe on
        a Bernoulli SAMPLE of the events and scales the two numbers back
        up by 1/fraction — at 100 TB the exact probe's own scan costs
        real money, and a 1% sample detects any key past a 10k-event
        threshold with near-certainty (a key at the threshold yields ~100
        sampled events; P(seeing < half that) < 1e-8). The check is
        OPT-IN because it executes a Spark job at chain-CONSTRUCTION
        time, an exception to the facade's nothing-runs-until-an-action
        contract that only the caller should authorize (and it scans the
        filtered input once more). It is ignored when a cap is already
        set."""
        from pyspark.sql import functions as F

        from fireworks_spark.operators.timeagg import funnel_counts

        if max_events_per_key is None and skew_check:
            frac = None
            if isinstance(skew_check, float) and not isinstance(
                skew_check, bool
            ):
                if not 0.0 < skew_check < 1.0:
                    raise ValueError(
                        "funnel: skew_check as a float is a sample "
                        f"fraction and must be in (0, 1), got {skew_check}"
                    )
                frac = skew_check
            probe_src = self.df.filter(F.col(type_col).isin(list(steps)))
            if frac is not None:
                probe_src = probe_src.sample(fraction=frac, seed=7)
            per_key = (
                probe_src.groupBy(key_col)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(
                    F.max("cnt").alias("mx"), F.sum("cnt").alias("tot")
                )
                .collect()[0]
            )
            mx, tot = per_key["mx"] or 0, per_key["tot"] or 0
            if frac is not None:
                mx, tot = mx / frac, tot / frac
            if tot and mx > skew_min and mx / tot > skew_frac:
                import warnings

                warnings.warn(
                    f"funnel: heaviest {key_col} holds {mx} of {tot} "
                    f"funnel events ({mx / tot:.1%}) — one key's events "
                    "fold into a single task's array. Set "
                    "max_events_per_key (exact same-type run-collapse + "
                    "per-type cap) to bound it; "
                    "toolbox.heavy_hitters(df, key_col) shows the "
                    "offending keys.",
                    stacklevel=2,
                )
        return Pipe(
            funnel_counts(
                self.df,
                steps,
                key_col,
                ts_col,
                type_col,
                max_events_per_key=max_events_per_key,
            )
        )

    def retention(
        self,
        key_col: str = "user_id",
        ts_col: str = "ts",
        period: str = "week",
    ) -> "Pipe":
        """Cohort retention matrix (timeagg.retention_cohorts)."""
        from fireworks_spark.operators.timeagg import retention_cohorts

        return Pipe(retention_cohorts(self.df, key_col, ts_col, period))

    def similar_join(
        self,
        other: "Pipe | DataFrame",
        threshold: float = 0.8,
        id_col: str = "doc_id",
        text_col: str = "text",
        exact: bool = False,
    ) -> "Pipe":
        """Cross-corpus near-dup join at a Jaccard threshold: banded
        MinHash candidates + exact verify (dedup.minhash_join) by
        default; ``exact=True`` switches to the df-capped shingle
        candidate join (dedup.jaccard_join) for verification-grade runs."""
        from fireworks_spark.operators import dedup as dd

        rhs = other.df if isinstance(other, Pipe) else other
        fn = dd.jaccard_join if exact else dd.minhash_join
        return Pipe(
            fn(self.df, rhs, threshold, id_col=id_col, text_col=text_col)
        )

    def histogram(
        self, col: str, nbins: int = 10, by: str | None = None
    ) -> "Pipe":
        """Equi-width histogram (toolbox.histogram)."""
        return Pipe(toolbox.histogram(self.df, col, nbins=nbins, by=by))

    def temperature_mix(
        self, stratum_col: str = "source", alpha: float = 0.5
    ) -> "Pipe":
        """Alpha-temperature domain rebalancing (toolbox.temperature_mix)."""
        return Pipe(toolbox.temperature_mix(self.df, stratum_col, alpha))

    def negatives(self, k: int = 4, id_col: str = "doc_id") -> "Pipe":
        """Deterministic contrastive negative sampling
        (mlfeed.negative_samples)."""
        from fireworks_spark import mlfeed

        return Pipe(mlfeed.negative_samples(self.df, k=k, id_col=id_col))

    def decontaminate(
        self,
        benchmark: "Pipe | DataFrame",
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        bloom: bool = True,
    ) -> "Pipe":
        """Drop docs sharing a word n-gram with the benchmark. ``bloom``
        (default) probes a fixed 16 KiB bitset at the scan before the
        exact verify (dedup.bloom_decontaminate) — same result, no
        benchmark-sized broadcast."""
        from fireworks_spark.operators import dedup as dd

        bench = benchmark.df if isinstance(benchmark, Pipe) else benchmark
        fn = dd.bloom_decontaminate if bloom else dd.decontaminate
        return Pipe(fn(self.df, bench, id_col=id_col, text_col=text_col, n=n))

    def weighted_sample(
        self,
        weight_col: str,
        k: int,
        key_col: str = "doc_id",
        group_col: str | None = None,
        seed: int = 7,
    ) -> "Pipe":
        """Deterministic weighted sampling without replacement
        (toolbox.weighted_sample, Efraimidis-Spirakis)."""
        return Pipe(
            toolbox.weighted_sample(
                self.df, weight_col, k, key_col=key_col,
                group_col=group_col, seed=seed,
            )
        )

    def token_budget(
        self,
        token_col: str,
        budget: int,
        key_col: str = "doc_id",
        group_col: str | None = None,
        seed: int = 11,
    ) -> "Pipe":
        """Keyed-random prefix within a (per-group) token budget
        (toolbox.token_budget_sample)."""
        return Pipe(
            toolbox.token_budget_sample(
                self.df, token_col, budget, key_col=key_col,
                group_col=group_col, seed=seed,
            )
        )

    # -- retrieval / embeddings ------------------------------------------
    def topk_similar(
        self,
        queries: "Pipe | DataFrame",
        k: int = 5,
        method: str = "brute",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        **kw,
    ) -> "Pipe":
        """ANN top-k over an embedding column, one face over the whole
        ladder: ``brute`` (exact cosine — the small-corpus baseline),
        ``lsh`` (sign-projection buckets), ``ivf`` (learned coarse
        quantizer), ``ivfpq`` (IVF cells + PQ codes — the billion-scale
        composition). Extra kwargs (nprobe, num_clusters, num_bits,
        centroids, codebooks, ...) pass through to the operator."""
        from fireworks_spark.operators import pq as pqm
        from fireworks_spark.operators import similarity as sim

        fns = {
            "brute": sim.cosine_topk,
            "lsh": sim.lsh_bucket_topk,
            "ivf": sim.ivf_topk,
            "ivfpq": pqm.ivfpq_topk,
        }
        if method not in fns:
            raise ValueError(
                f"method must be one of {sorted(fns)}, got {method!r}"
            )
        q = queries.df if isinstance(queries, Pipe) else queries
        return Pipe(
            fns[method](
                self.df, q, k=k, id_col=id_col, vec_col=vec_col, **kw
            )
        )

    def mmr(
        self,
        vectors: "Pipe | DataFrame",
        k: int = 5,
        lam: float = 0.5,
        **kw,
    ) -> "Pipe":
        """Maximal-Marginal-Relevance re-rank of a scored candidate list
        (similarity.mmr_rerank) — the diversity stage between
        ``topk_similar`` and context assembly."""
        from fireworks_spark.operators.similarity import mmr_rerank

        v = vectors.df if isinstance(vectors, Pipe) else vectors
        return Pipe(mmr_rerank(self.df, v, k=k, lam=lam, **kw))

    def pca(
        self,
        k: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        whiten: bool = False,
    ) -> "Pipe":
        """Project embeddings onto the top-k principal components
        (embedstats.pca_project); ``whiten=True`` additionally scales to
        identity covariance (pca_whiten)."""
        from fireworks_spark.operators import embedstats as es

        fn = es.pca_whiten if whiten else es.pca_project
        return Pipe(fn(self.df, k, id_col=id_col, vec_col=vec_col))

    def tfidf(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_df: int = 1,
    ) -> "Pipe":
        """Per-(document, term) TF-IDF weights (ranking.tf_idf)."""
        from fireworks_spark.operators.ranking import tf_idf

        return Pipe(
            tf_idf(self.df, id_col=id_col, text_col=text_col, min_df=min_df)
        )

    def bm25(
        self,
        query_terms: list[str],
        k: int = 20,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kw,
    ) -> "Pipe":
        """Okapi BM25 top-k for a bag-of-words query (ranking.bm25_topk)."""
        from fireworks_spark.operators.ranking import bm25_topk

        return Pipe(
            bm25_topk(
                self.df, query_terms, id_col=id_col, text_col=text_col,
                k=k, **kw,
            )
        )

    def chunk(
        self,
        size: int = 32,
        overlap: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Pipe":
        """Split documents into overlapping token windows
        (ranking.chunk_tokens) — the context-window step before packing."""
        from fireworks_spark.operators.ranking import chunk_tokens

        return Pipe(
            chunk_tokens(
                self.df, id_col=id_col, text_col=text_col,
                size=size, overlap=overlap,
            )
        )

    def pack(
        self,
        budget: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Pipe":
        """Assign documents to fixed-token-budget training packs
        (ranking.pack_sequences)."""
        from fireworks_spark.operators.ranking import pack_sequences

        return Pipe(
            pack_sequences(self.df, budget, id_col=id_col, text_col=text_col)
        )

    def bpe(
        self,
        num_merges: int = 50,
        merges: list | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Pipe":
        """BPE-encode every document (operators.bpe). With ``merges``
        None, trains the merge list on THIS corpus first (train_bpe) —
        one surface for the train-then-encode composition; pass a learned
        list to reuse a vocabulary across corpora."""
        from fireworks_spark.operators.bpe import bpe_encode, train_bpe

        if merges is None:
            merges = train_bpe(
                self.df, num_merges=num_merges, text_col=text_col
            )
        return Pipe(
            bpe_encode(self.df, merges, id_col=id_col, text_col=text_col)
        )

    # -- formats (Message.read / Message.to parity) -----------------------
    @classmethod
    def read(cls, spark, fmt: str, path: str = None, **kw) -> "Pipe":
        """Message.read: any reference format name (edge_formats
        dispatch — spark-native, file-parallel connector, or a recorded
        refusal)."""
        from fireworks_spark.edge_formats import message_read

        return cls(message_read(spark, fmt, path, **kw))

    def to(self, fmt: str, path: str = None, **kw):
        """Message.to: distributed formats write to ``path`` and return
        None; edge renders (dict/records/string/latex) return the value."""
        from fireworks_spark.edge_formats import message_to

        return message_to(self.df, fmt, path, **kw)

    # -- streaming -------------------------------------------------------
    @classmethod
    def read_stream(
        cls,
        spark,
        path: str,
        max_files_per_trigger: int | None = None,
        schema=None,
    ) -> "StreamPipe":
        """One composition surface for batch AND forward-only sources
        (the reference's whole point: the same Pipe graph over datasets
        and streams, pipe.py:34-212 / pipes.py:48-63). Returns a
        StreamPipe over a file-source event stream; every StreamPipe
        method is the streaming face of a batch facade method."""
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.read_event_stream(
                spark,
                path,
                max_files_per_trigger=max_files_per_trigger,
                schema=schema,
            )
        )

    # -- feed / actions --------------------------------------------------
    def batches(self, batch_size: int, drop_tail: bool = True) -> Iterator:
        """BatchingPipe (P12): driver-side pandas batch iterator."""
        from fireworks_spark.mlfeed import batch_iterator

        return batch_iterator(self.df, batch_size, drop_tail=drop_tail)

    def collect(self):
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()


class StreamPipe:
    """Fluent facade over a STREAMING DataFrame — the forward-only face of
    :class:`Pipe` (reference pipes iterate sources exactly once,
    pipes.py:48-63; Structured Streaming is the Spark expression of that
    contract). Transformations return a new StreamPipe and stay lazy;
    sinks (``to_memory`` / ``maintain_rollup`` / ``dedup_against`` /
    ``start``) launch the query.

    Drop to ``.df`` for anything the facade doesn't wrap — including
    ``.df.writeStream`` for custom sinks."""

    def __init__(self, df: DataFrame):
        self.df = df

    def apply(self, fn: Callable[[DataFrame], DataFrame]) -> "StreamPipe":
        """Arbitrary stream-legal DataFrame -> DataFrame stage."""
        return StreamPipe(self.df.transform(fn))

    def __getitem__(self, cols) -> "StreamPipe":
        if isinstance(cols, str):
            cols = [cols]
        return StreamPipe(self.df.select(*cols))

    # -- windowed aggregation (streaming face of rollup/session queries) --
    def tumbling(self, window: str = "1 hour", watermark: str = "2 hours") -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(streaming.tumbling_agg(self.df, window, watermark))

    def sliding(
        self,
        window: str = "1 hour",
        slide: str = "15 minutes",
        watermark: str = "2 hours",
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.sliding_agg(self.df, window, slide, watermark)
        )

    def session(
        self, gap: str = "30 minutes", watermark: str = "2 hours"
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(streaming.session_agg(self.df, gap, watermark))

    # -- dedup / decontamination (streaming faces of the batch ops) -------
    def dedup(
        self,
        keys: list[str] | None = None,
        watermark: str = "2 hours",
        time_col: str = "ts",
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.dedup_stream(self.df, keys, watermark, time_col)
        )

    def near_dedup(self, **kw) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(streaming.near_dedup_stream(self.df, **kw))

    def decontaminate(
        self, benchmark: "Pipe | DataFrame", **kw
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        bench = benchmark.df if isinstance(benchmark, Pipe) else benchmark
        return StreamPipe(
            streaming.decontaminate_stream(self.df, bench, **kw)
        )

    # -- stateful operators ----------------------------------------------
    def interval_join(
        self,
        other: "StreamPipe | DataFrame",
        key: str,
        lower: str = "interval 0 seconds",
        upper: str = "interval 1 hour",
        watermark: str = "2 hours",
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        rhs = other.df if isinstance(other, StreamPipe) else other
        return StreamPipe(
            streaming.interval_join_stream(
                self.df, rhs, key, lower, upper, watermark
            )
        )

    def funnel(
        self,
        steps: list[str],
        key_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
    ) -> "StreamPipe":
        """Streaming funnel (stateful_funnel). No max_events_per_key here
        by design: the streaming state is two scalars per key however
        heavy the key — the batch guard exists because batch folds a
        key's whole history into one array; the stream never does."""
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.stateful_funnel(
                self.df, steps, key_col, ts_col, type_col
            )
        )

    def running_totals(
        self, key_col: str = "user_id", value_col: str = "value"
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.stateful_running_totals(self.df, key_col, value_col)
        )

    def topk(
        self,
        key_col: str = "user_id",
        value_col: str = "value",
        k: int = 3,
    ) -> "StreamPipe":
        from fireworks_spark import streaming

        return StreamPipe(
            streaming.stateful_topk(self.df, key_col, value_col, k)
        )

    def normalizer(self, cols: list[str]):
        """Streaming Normalizer (P21): returns the StreamingNormalizer and
        a started availableNow query learning its stats from this stream;
        await the query, then ``sn.forward(batch_df)`` standardizes."""
        from fireworks_spark import streaming

        sn = streaming.StreamingNormalizer(cols)
        q = (
            self.df.writeStream.foreachBatch(sn.foreach_batch())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        return sn, q

    # -- sinks -----------------------------------------------------------
    def to_memory(self, spark, name: str, output_mode: str = "complete") -> DataFrame:
        """Drain everything currently available into an in-memory table
        and return it as a batch DataFrame (test/dev sink)."""
        from fireworks_spark import streaming

        streaming.run_to_memory(self.df, name, output_mode)
        return spark.table(name)

    def maintain_rollup(self, table_path: str, **kw) -> None:
        """Continuous-aggregate maintenance sink (terminal; drains the
        currently-available input via availableNow)."""
        from fireworks_spark import streaming

        streaming.maintain_rollup_table(self.df, table_path, **kw)

    def dedup_against(
        self, corpus: "Pipe | DataFrame", out_path: str, **kw
    ) -> None:
        """Near-dedup this stream against a static corpus; survivors
        append to ``out_path`` as parquet (terminal)."""
        from fireworks_spark import streaming

        ref = corpus.df if isinstance(corpus, Pipe) else corpus
        streaming.dedup_stream_against(self.df, ref, out_path, **kw)

    def start(self, **kw):
        """Raw writeStream passthrough: ``start(format=..., path=...,
        checkpointLocation=..., outputMode=..., queryName=...)``."""
        w = self.df.writeStream
        if "outputMode" in kw:
            w = w.outputMode(kw.pop("outputMode"))
        if "format" in kw:
            w = w.format(kw.pop("format"))
        if "queryName" in kw:
            w = w.queryName(kw.pop("queryName"))
        trigger = kw.pop("trigger", None)
        if trigger:
            w = w.trigger(**trigger)
        for key, val in kw.pop("options", {}).items():
            w = w.option(key, val)
        if "checkpointLocation" in kw:
            w = w.option("checkpointLocation", kw.pop("checkpointLocation"))
        if "partitionBy" in kw:
            w = w.partitionBy(kw.pop("partitionBy"))
        path = kw.pop("path", None)
        if kw:
            # silently dropping a misspelled checkpointLocation would
            # start an unrecoverable stream — unknown settings must fail
            raise TypeError(
                f"StreamPipe.start: unknown settings {sorted(kw)} — "
                "supported: outputMode, format, queryName, trigger, "
                "options, checkpointLocation, partitionBy, path"
            )
        return w.start(path) if path else w.start()
