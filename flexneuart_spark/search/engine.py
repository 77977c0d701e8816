"""Distributed BM25 top-k query engine over the sharded inverted index.

Spark restatement of the reference's batch retrieval path
(``apps/BaseQueryApp.java:653-741`` + ``LuceneCandidateProvider.java:103-178``;
SURVEY.md §3.2): the per-query thread pool becomes shard-parallel tasks;
the whole query batch is evaluated in ONE pass over the index.

Physical plan:
  1. queries tokenized driver-side (the reference also loads all queries
     into memory — ``BaseQueryApp.java:670``); per-query term slice of the
     dictionary collected + closed over (broadcast only the slice, never
     the dictionary — 10^12-file posture, SURVEY.md §7.4);
  2. ``postings.filter(term IN query_vocab)`` — partition keys + parquet
     row-group stats (postings are written sorted by term within shard)
     prune the scan to the query's posting rows only;
  3. ``groupBy(seg, shard).applyInPandas`` → numpy top-k kernel with a
     bounded heap per (shard, query) → ≤ k rows per seg·shard·query;
  4. label ordinals with doc_ids: broadcast-join the tiny result against
     the doc map (seg, shard, ord, doc_id);
  5. global top-k merge: window by query, (score desc, doc_id desc).

``search(kernel=...)`` picks the step-3 kernel by name: "maxscore"
(default), "bmw" (Block-Max WAND) or "exhaustive" — result-identical,
equivalence-tested. Warmed searchers cache the postings pre-partitioned
by shard, so the per-query groupBy needs no exchange — the kernel runs
as one scan-and-score stage over the cache.

``SegmentedSearcher`` searches a set of independently-built index
segments (the incremental-ingest layout, flexneuart_spark.streaming):
corpus stats and df are merged exactly across segments, so scores are
identical to a single monolithic build — possible because posting
payloads carry raw (tf, dl) and block metadata is avgdl-independent.
Both searchers share query prep and the plan above; they differ only in
where idf and the (postings, doc map) frames come from.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import TOKENIZERS
from flexneuart_spark.index.builder import IndexTables
from flexneuart_spark.search.scoring import TermPostings, bmw_topk, exhaustive_topk, maxscore_topk

_KERNELS = {"maxscore": maxscore_topk, "bmw": bmw_topk, "exhaustive": exhaustive_topk}

# warm() caches term→idf driver-side when the dictionary has at most this
# many terms; larger dictionaries keep the per-query dictionary lookup
MAX_DICT_TERMS = 2_000_000


def _resolve_kernel(kernel: str):
    """Name → one of the result-identical top-k kernels."""
    try:
        return _KERNELS[kernel]
    except KeyError:
        raise ValueError(f"unknown kernel {kernel!r}; expected one of {sorted(_KERNELS)}") from None


_SCORED_SCHEMA = "seg int, shard int, query_id string, ord long, score double"
_EMPTY_RUN_SCHEMA = "query_id string, doc_id string, score double, rank int"


def _search_frames(
    spark: SparkSession,
    posts: DataFrame,
    fwd_ids: DataFrame,
    idf: dict[str, float],
    avgdl: float,
    qtf: dict[str, dict[str, int]],
    k: int,
    k1: float,
    b: float,
    kernel,
) -> DataFrame:
    """Core search over generic frames. ``posts`` must carry
    (seg, shard, term, payload, block_*); ``fwd_ids`` (seg, shard, ord,
    doc_id). ``kernel`` is one of the scoring kernels (result-identical;
    see ``_resolve_kernel``)."""
    qweights = {
        qid: {t: c * idf[t] * (k1 + 1.0) for t, c in d.items() if t in idf}
        for qid, d in qtf.items()
    }
    qweights = {qid: d for qid, d in qweights.items() if d}
    if not qweights:
        return spark.createDataFrame([], _EMPTY_RUN_SCHEMA)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        shard = int(pdf["shard"].iloc[0])
        by_term = {row.term: row for row in pdf.itertuples(index=False)}
        out_q, out_o, out_s = [], [], []
        for qid, wts in qweights.items():
            entries = [
                TermPostings(
                    r.payload, r.block_off, r.block_n,
                    r.block_max_doc, r.block_max_tf, r.block_min_dl,
                    w,
                )
                for t, w in wts.items()
                if (r := by_term.get(t)) is not None
            ]
            if not entries:
                continue
            ords, scores = kernel(entries, k, avgdl, k1, b)
            out_q.extend([qid] * len(ords))
            out_o.extend(ords.tolist())
            out_s.extend(scores.tolist())
        return pd.DataFrame(
            {"seg": seg, "shard": shard, "query_id": out_q, "ord": out_o, "score": out_s}
        )

    scored = posts.groupBy("seg", "shard").applyInPandas(score_shard, _SCORED_SCHEMA)
    labeled = fwd_ids.join(F.broadcast(scored), ["seg", "shard", "ord"], "inner")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.desc("doc_id"))
    return (
        labeled.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )




def _seg_docmap(spark: SparkSession, tables: IndexTables, seg: int) -> DataFrame:
    """(shard, ord, doc_id, seg) doc map of one index segment."""
    return tables.docmap(spark).select("shard", "ord", "doc_id").withColumn("seg", F.lit(seg))


class _BM25Searcher:
    """Query prep + the one search plan shared by both searchers.
    Subclasses set ``spark``, ``tokenize``, ``k1``, ``b``, ``avgdl`` and
    supply ``_idf(vocab)`` and ``_frames(live_terms)``."""

    def _query_tf(self, queries: list[tuple[str, str]]) -> dict[str, dict[str, int]]:
        qtoks = {qid: self.tokenize(text) for qid, text in queries}
        # empty queries drop out (LuceneCandidateProvider.java:125-126)
        return {qid: dict(Counter(toks)) for qid, toks in qtoks.items() if toks}

    def search(
        self,
        queries: list[tuple[str, str]],
        k: int = 10,
        kernel: str = "maxscore",
    ) -> DataFrame:
        """queries: [(query_id, text)] → run DataFrame
        (query_id, doc_id, score, rank) under the reference tie rule.

        ``kernel`` picks the per-shard top-k kernel by name
        ("maxscore" | "bmw" | "exhaustive" — result-identical,
        equivalence-tested); an unknown name raises ``ValueError``."""
        score_fn = _resolve_kernel(kernel)
        qtf = self._query_tf(queries)
        vocab = sorted({t for d in qtf.values() for t in d})
        idf = self._idf(vocab) if vocab else {}
        if not idf:
            return self.spark.createDataFrame([], _EMPTY_RUN_SCHEMA)
        posts, fwd_ids = self._frames(sorted(idf))
        return _search_frames(
            self.spark, posts, fwd_ids, idf, self.avgdl, qtf, k, self.k1, self.b, score_fn
        )


class Searcher(_BM25Searcher):
    def __init__(
        self,
        spark: SparkSession,
        index: IndexTables | str,
        k1: float = BM25_K1,
        b: float = BM25_B,
        tokenizer: str = "code",
        adaptive: bool | None = None,
    ):
        self.spark = spark
        self.tables = IndexTables(index) if isinstance(index, str) else index
        self.k1, self.b = k1, b
        if adaptive is not None:
            # interactive top-k jobs are a handful of tiny stages; AQE's
            # per-stage re-planning round trips roughly double their
            # latency (measured 2x p50 on the bench corpus) — pass
            # adaptive=False for latency-sensitive interactive use. This is
            # a SESSION-WIDE setting and is deliberately opt-in (None =
            # leave the session untouched) so that library-internal
            # Searcher construction never flips the caller's AQE.
            spark.conf.set("spark.sql.adaptive.enabled", str(bool(adaptive)).lower())
        self.tokenize = TOKENIZERS[tokenizer]
        self.n_docs, self.total_tokens, self.avgdl = self.tables.stats(spark)
        self._fwd_ids = None
        self._posts = None
        self._idf_cache: dict[str, float] | None = None

    def warm(self) -> "Searcher":
        """Pin the (shard, ord, doc_id) projection AND the postings table
        in executor memory and, when the dictionary has at most
        ``MAX_DICT_TERMS`` terms, cache term→idf driver-side — repeated
        searches then skip the per-query metadata jobs and the parquet
        listing/scan (the reference holds its whole index + idf cache in
        memory for the batch too, TFIDFSimilarity.java:48-58; Lucene
        relies on the OS page cache). Re-warming releases the previous
        caches (safe after the index was rebuilt)."""
        if self._fwd_ids is not None:
            self._fwd_ids.unpersist()
        if self._posts is not None:
            self._posts.unpersist()
        self._fwd_ids = _seg_docmap(self.spark, self.tables, 0).persist()
        self._fwd_ids.count()  # materialize now, not on the first query
        # cache the postings ALREADY hash-partitioned by shard: the
        # per-query groupBy(shard) then needs no exchange — the whole
        # search kernel runs as one scan-and-score stage over the cache.
        # fewer, bigger cache partitions = fewer task round trips per
        # query (the p50 floor is task scheduling, not compute); 16 still
        # saturates the batch path, whose kernel loops all queries per task
        npart = min(16, self.spark.sparkContext.defaultParallelism)
        self._posts = self.tables.postings(self.spark).repartition(npart, "shard").persist()
        self._posts.count()
        head = self.tables.dictionary(self.spark).select("term", "idf").limit(MAX_DICT_TERMS + 1).collect()
        if len(head) <= MAX_DICT_TERMS:
            self._idf_cache = {r.term: float(r.idf) for r in head}
        return self

    def _idf(self, vocab: list[str]) -> dict[str, float]:
        if self._idf_cache is not None:
            return {t: self._idf_cache[t] for t in vocab if t in self._idf_cache}
        dic = (
            self.tables.dictionary(self.spark)
            .filter(F.col("term").isin(vocab))
            .select("term", "idf")
            .collect()
        )
        return {r.term: float(r.idf) for r in dic}

    def _frames(self, live: list[str]) -> tuple[DataFrame, DataFrame]:
        posts_src = self._posts if self._posts is not None else self.tables.postings(self.spark)
        posts = posts_src.filter(F.col("term").isin(live)).withColumn("seg", F.lit(0))
        fwd_ids = self._fwd_ids if self._fwd_ids is not None else _seg_docmap(self.spark, self.tables, 0)
        return posts, fwd_ids


class SegmentedSearcher(_BM25Searcher):
    """Search across N independently-built segments (incremental layout:
    ``root/segments/<id>/`` each a full IndexTables). Global df/N/avgdl
    are exact merges, so results are identical to a monolithic build."""

    def __init__(
        self,
        spark: SparkSession,
        segment_dirs: list[str],
        k1: float = BM25_K1,
        b: float = BM25_B,
        tokenizer: str = "code",
    ):
        if not segment_dirs:
            raise ValueError("no segments")
        self.spark = spark
        self.tables = [IndexTables(p) for p in sorted(segment_dirs)]
        self.k1, self.b = k1, b
        self.tokenize = TOKENIZERS[tokenizer]
        # ONE multi-path read over every segment's 1-row stats table —
        # O(1) driver round-trips regardless of segment count (a
        # thousand-segment incremental index pays one job, not 1000)
        agg = (
            spark.read.parquet(*[t.corpus_stats_dir for t in self.tables])
            .agg(F.sum("n_docs").alias("nd"), F.sum("total_tokens").alias("tt"))
            .collect()[0]
        )
        self.n_docs = int(agg.nd or 0)
        self.total_tokens = int(agg.tt or 0)
        self.avgdl = (self.total_tokens / self.n_docs) if self.n_docs else 1.0

    def _idf(self, vocab: list[str]) -> dict[str, float]:
        # exact global df merge across segments — ONE multi-path read +
        # groupBy, a single collect of ≤|vocab| rows however many
        # segments exist (no per-segment driver round-trips)
        merged = (
            self.spark.read.parquet(*[t.dictionary_dir for t in self.tables])
            .filter(F.col("term").isin(vocab))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        return {
            r.term: math.log(1.0 + (self.n_docs - r.df + 0.5) / (r.df + 0.5)) for r in merged
        }

    def _frames(self, live: list[str]) -> tuple[DataFrame, DataFrame]:
        posts = None
        fwd_ids = None
        for i, t in enumerate(self.tables):
            p = t.postings(self.spark).filter(F.col("term").isin(live)).withColumn("seg", F.lit(i))
            f_ = _seg_docmap(self.spark, t, i)
            posts = p if posts is None else posts.unionByName(p)
            fwd_ids = f_ if fwd_ids is None else fwd_ids.unionByName(f_)
        return posts, fwd_ids
