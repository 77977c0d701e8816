"""The benchmark workloads, driving the public API in one process.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned its collected result.

- ``build_bulk``: repeated ``build_index`` of one generated corpus.
- ``query_mixed``: on a warmed searcher, one ``search([q], k=10).collect()``
  per query of a ``make_queries`` mix, then one
  ``search(batch, k=100).collect()`` per batch of long, head-heavy queries.
- ``ingest_segments``: append small segments under ``root/segments/<id>``,
  query them with ``SegmentedSearcher`` after each append, then
  ``compact_segments`` and query the compacted index.

Each workload reports one operation latency (``latency_p50_s``) and one
throughput (``throughput_per_s``), defined per workload in README.md.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pandas as pd

from flexneuart_spark.fixtures import make_corpus_scaled, make_queries, vocabulary
from flexneuart_spark.index.builder import auto_num_shards, build_index
from flexneuart_spark.search.engine import Searcher, SegmentedSearcher
from flexneuart_spark.streaming.incremental import compact_segments, list_segments

import gate as gatemod
from spans import JobCounter, Tracer

N_IDS = 30_000
K_INTERACTIVE = 10
K_BATCH = 100


@dataclass(frozen=True)
class Sizes:
    corpus_docs: int  # documents in the measured corpus (all segments for ingest)
    warmup_docs: int  # documents in the warm-up build (0: the serving index build warms up)
    min_ops: int = 0  # operations measured at least (time-bounded loops)
    max_ops: int = 0  # and at most
    queries: int = 0  # make_queries pool (interactive mix)
    batch_size: int = 0  # queries per batch
    batches: int = 0  # distinct batches
    min_batches: int = 0  # batches measured at least (query_mixed)
    segments: int = 0  # segments appended (ingest_segments)
    seg_queries: int = 0  # SegmentedSearcher queries after each append
    gate_queries: int = 0  # sampled queries checked (build_bulk, ingest_segments)


SIZES = {
    "full": {
        "build_bulk": Sizes(corpus_docs=2400, warmup_docs=2400, min_ops=4, max_ops=8, gate_queries=24),
        "query_mixed": Sizes(
            corpus_docs=2000, warmup_docs=0, min_ops=12, max_ops=400, queries=400,
            batch_size=32, batches=10, min_batches=8,
        ),
        "ingest_segments": Sizes(corpus_docs=1200, warmup_docs=100, segments=4, seg_queries=2, gate_queries=8),
    },
    "tiny": {
        "build_bulk": Sizes(corpus_docs=120, warmup_docs=40, min_ops=1, max_ops=1, gate_queries=6),
        "query_mixed": Sizes(
            corpus_docs=120, warmup_docs=0, min_ops=4, max_ops=4, queries=12,
            batch_size=6, batches=1, min_batches=1,
        ),
        "ingest_segments": Sizes(corpus_docs=120, warmup_docs=40, segments=2, seg_queries=1, gate_queries=3),
    },
}

# the mini ingest the traced run of the other workloads performs, so that
# every layer metric is measured on every workload
MINI_INGEST = Sizes(corpus_docs=200, warmup_docs=0, segments=2, seg_queries=1, gate_queries=2)


def make_batch_queries(n: int, seed: int, n_ids: int = N_IDS) -> pd.DataFrame:
    """Long (6-14 tokens) queries drawn from the Zipf head of the corpus
    vocabulary, so their posting lists are long."""
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary(n_ids), dtype=object)[:400]
    p = 1.0 / (np.arange(len(vocab), dtype=np.float64) + 1.0)
    p /= p.sum()
    rows = [
        (f"b{i}", " ".join(rng.choice(vocab, size=int(rng.integers(6, 15)), p=p)))
        for i in range(n)
    ]
    return pd.DataFrame(rows, columns=["query_id", "text"])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def content_bytes(corpus: pd.DataFrame) -> int:
    return int(corpus["content"].map(lambda c: len(c.encode())).sum())


class Run:
    """State of one benchmark run: session, tracer, gate and measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.jobs: JobCounter | None = None
        self.gate: gatemod.Gate | None = None
        self.ops = 0  # measured operations attempted
        self.op_failures = 0
        self.op_times: list[float] = []  # the workload's latency samples
        self.op_wall: list[tuple[float, bool]] = []  # (operation seconds, traced)
        # items (docs or queries) per second of the median operation
        self.throughput_per_s = 0.0
        self.setup_s = 0.0
        self.index_ratio = 0.0
        self.details: dict[str, tuple[float, str]] = {}  # named report lines
        self.main_index: str | None = None  # index the layer probes read
        self.main_kind = ""  # builder.build span kind the builder metrics use
        self.replay: list[list[tuple[str, str]]] = []  # requests for the kernel replay
        self.replay_k = K_INTERACTIVE
        self.corpus: pd.DataFrame | None = None

    # -- helpers ---------------------------------------------------------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def counted(self, attrs: dict):
        """Job-group counting around one operation (traced run only)."""
        if self.jobs is not None and self.tracer.enabled:
            return self.jobs.group(attrs)
        return nullcontext(attrs)

    def write_corpus(self, corpus: pd.DataFrame, name: str):
        """The program sees only the generated parquet."""
        p = self.path(f"{name}.parquet")
        corpus.to_parquet(p, index=False)
        return self.spark.read.parquet(p)

    def build(self, corpus_df, out: str, kind: str, op: str | None = None):
        with self.tracer.span("builder.build", op=op, kind=kind) as attrs, self.counted(attrs):
            t0 = time.perf_counter()
            # num_shards=None: the builder's own sizing rule (auto_num_shards)
            tables = build_index(self.spark, corpus_df, out, num_shards=None)
            attrs["seconds"] = time.perf_counter() - t0
        return tables, attrs["seconds"]

    def timed_loop(self, op_fn, seconds: float, min_ops: int) -> None:
        """Run ``op_fn(i)`` closed-loop for ``seconds``, at least ``min_ops``
        and at most ``max_ops`` times. In the traced run half of the
        operations run with tracing off, which gives the overhead."""
        t_end = time.perf_counter() + seconds
        i = 0
        while i < self.sizes.max_ops and (i < min_ops or time.perf_counter() < t_end):
            self.measured_op(op_fn, i)
            i += 1

    def measured_op(self, op_fn, i: int) -> None:
        # ABBA order (traced, untraced, untraced, traced, ...): a warm-up
        # trend over the run does not bias the overhead estimate
        traced = self.trace and i % 4 in (0, 3)
        self.tracer.enabled = traced
        self.ops += 1
        # collect py4j proxies of earlier operations now, not at a random
        # point inside a timed one (their JVM-side release is a round trip)
        gc.collect()
        try:
            t0 = time.perf_counter()
            op_fn(i)
            self.op_wall.append((time.perf_counter() - t0, traced))
        except Exception as e:  # an operation that fails counts; the run goes on
            import traceback

            traceback.print_exc()
            self.op_failures += 1
            print(f"operation {i} failed: {e!r}", flush=True)
        finally:
            self.tracer.enabled = self.trace

    def search(self, searcher, queries, k: int, op: str, kind: str):
        with self.tracer.span("op." + kind, op=op) as attrs, self.counted(attrs):
            with self.tracer.span("engine.plan"):
                df = searcher.search(queries, k=k)
            with self.tracer.span("engine.exec"):
                rows = df.collect()
        return rows

    # -- set-up ----------------------------------------------------------

    def start(self, start_session) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup", op="setup"):
            with self.tracer.span("session.start"):
                self.spark = start_session()
            self.jobs = JobCounter(self.spark.sparkContext)
            if self.sizes.warmup_docs:
                warm = self.corpus.iloc[: self.sizes.warmup_docs]
                self.build(self.write_corpus(warm, "warmup"), self.path("warmup_idx"), "warmup")
            self.setup_extra()
        self.setup_s = time.perf_counter() - t0

    def setup_extra(self) -> None:
        pass

    # -- the workload ----------------------------------------------------

    def run(self) -> None:
        raise NotImplementedError

    def latency_p50(self) -> float:
        return statistics.median(self.op_times)

    def probe_layers(self) -> None:
        """Traced run only: the empty-job scheduling floor, and a mini
        ingest so that every layer metric is measured on every workload."""
        sc = self.spark.sparkContext
        tasks = min(16, sc.defaultParallelism)  # the warmed scoring stage's task count
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            sc.parallelize([], tasks).count()
            times.append(time.perf_counter() - t0)
        self.empty_job_s = statistics.median(times)
        if self.workload != "ingest_segments":
            mini = self.corpus.iloc[: MINI_INGEST.corpus_docs]
            queries = [q for q in self.queries if q[1]]
            with self.tracer.span("probe.ingest", op="probe"):
                ingest(self, mini, MINI_INGEST, self.path("probe_ingest"), queries, self.gate, measured=False)


class BuildBulk(Run):
    """Latency = one build_index of the corpus; throughput = docs/s."""

    def inputs(self) -> None:
        self.corpus = make_corpus_scaled(self.sizes.corpus_docs, seed=self.seed, n_ids=N_IDS)
        self.queries = [
            (r.query_id, r.text)
            for r in make_queries(self.sizes.gate_queries, seed=self.seed + 1, n_ids=N_IDS).itertuples(index=False)
        ]

    def run(self) -> None:
        corpus_df = self.write_corpus(self.corpus, "corpus")
        self.main_kind = "bulk"
        last = {}

        def op(i: int) -> None:
            out = self.path(f"bulk_{i}")
            with self.tracer.span("op.build", op=f"build-{i}"):
                tables, secs = self.build(corpus_df, out, "bulk")
            self.op_times.append(secs)
            if "dir" in last:
                shutil.rmtree(last["dir"], ignore_errors=True)
            last.update(dir=out, tables=tables)

        self.timed_loop(op, self.seconds, self.sizes.min_ops)
        self.main_index = last["dir"]
        self.index_ratio = dir_bytes(last["dir"]) / content_bytes(self.corpus)
        self.throughput_per_s = len(self.corpus) / self.latency_p50()
        self.details["build_docs_per_s"] = (self.throughput_per_s, "docs/s")
        self.details["build_s_p50"] = (self.latency_p50(), "s")
        self.details["builds"] = (len(self.op_times), "count")
        self.tables = last["tables"]

    def check(self) -> None:
        self.gate.oracle = gatemod.build_oracle(self.corpus)
        gatemod.check_fwd(self.gate, self.spark, self.tables, self.corpus)
        with self.tracer.span("engine.init", op="gate"):
            s = Searcher(self.spark, self.tables)
        if self.trace:
            with self.tracer.span("engine.warm", op="gate"):
                s.warm()
        # the sampled queries go through one search() call
        rows = self.search(s, self.queries, K_INTERACTIVE, op="gate", kind="batch")
        self.gate.check_run(self.queries, rows, K_INTERACTIVE)
        self.replay = [self.queries]


class QueryMixed(Run):
    """Set-up builds the serving index and warms a Searcher. Latency =
    single-query p50 (planning and scheduling dominate); throughput =
    batch queries/s (scoring and decoding dominate)."""

    def inputs(self) -> None:
        self.corpus = make_corpus_scaled(self.sizes.corpus_docs, seed=self.seed, n_ids=N_IDS)
        qs = make_queries(self.sizes.queries, seed=self.seed + 1, n_ids=N_IDS)
        self.queries = [(r.query_id, r.text) for r in qs.itertuples(index=False)]
        bq = make_batch_queries(self.sizes.batch_size * self.sizes.batches, seed=self.seed + 2)
        pairs = [(r.query_id, r.text) for r in bq.itertuples(index=False)]
        b = self.sizes.batch_size
        self.batches = [pairs[i * b : (i + 1) * b] for i in range(self.sizes.batches)]
        self.checked: list[tuple[list, list, int]] = []  # (queries, rows, k) the gate checks
        self.q_times: list[float] = []
        self.b_times: list[float] = []

    def setup_extra(self) -> None:
        corpus_df = self.write_corpus(self.corpus, "corpus")
        self.tables, _ = self.build(corpus_df, self.path("index"), "serving")
        self.main_index = self.tables.index_dir
        self.main_kind = "serving"
        with self.tracer.span("engine.init"):
            # adaptive=False: the engine's documented setting for
            # latency-sensitive serving
            self.searcher = Searcher(self.spark, self.tables, adaptive=False)
        with self.tracer.span("engine.warm"):
            self.searcher.warm()
        self.index_ratio = dir_bytes(self.tables.index_dir) / content_bytes(self.corpus)

    def interactive_loop(self, seconds: float, min_ops: int) -> None:
        for q in self.queries[-3:]:  # untimed warm pass (codegen, first broadcasts)
            self.searcher.search([q], k=K_INTERACTIVE).collect()

        def op(i: int) -> None:
            q = self.queries[i % len(self.queries)]
            t0 = time.perf_counter()
            rows = self.search(self.searcher, [q], K_INTERACTIVE, op=f"q-{i}", kind="query")
            self.q_times.append(time.perf_counter() - t0)
            self.checked.append(([q], rows, K_INTERACTIVE))

        self.timed_loop(op, seconds, min_ops)
        self.details["query_p50_s"] = (statistics.median(self.q_times), "s")
        self.details["query_samples"] = (len(self.q_times), "count")

    def batch_loop(self, seconds: float, min_ops: int) -> None:
        for batch in self.batches[-2:]:  # untimed warm pass (measured ops use the others first)
            self.searcher.search(batch, k=K_BATCH).collect()

        def op(i: int) -> None:
            batch = self.batches[i % len(self.batches)]
            t0 = time.perf_counter()
            rows = self.search(self.searcher, batch, K_BATCH, op=f"b-{i}", kind="batch")
            self.b_times.append(time.perf_counter() - t0)
            if i == 0:  # the oracle is slow on long queries: one batch is the sample
                self.checked.append((batch, rows, K_BATCH))

        self.timed_loop(op, seconds, min_ops)
        # total queries / total time: the per-batch time is bimodal (about
        # 1.0 s or 1.35 s on 4 cores), where a median of a few samples flips
        # between modes and a mean does not
        self.details["batch_qps"] = (self.sizes.batch_size * len(self.b_times) / sum(self.b_times), "1/s")
        self.details["batch_p50_s"] = (statistics.median(self.b_times), "s")
        self.details["batch_samples"] = (len(self.b_times), "count")

    def run(self) -> None:
        self.interactive_loop(self.seconds / 2, self.sizes.min_ops)
        self.batch_loop(self.seconds / 2, self.sizes.min_batches)
        self.op_times = self.q_times
        self.throughput_per_s = self.details["batch_qps"][0]
        self.replay, self.replay_k = self.batches[:2], K_BATCH

    def check(self) -> None:
        self.gate.oracle = gatemod.build_oracle(self.corpus)
        for queries, rows, k in self.checked:
            self.gate.check_run(queries, rows, k)


def ingest(run: Run, corpus: pd.DataFrame, sizes: Sizes, root: str, queries, gate: gatemod.Gate,
           measured: bool) -> dict:
    """Append ``sizes.segments`` segments of ``corpus``, query the segment
    set after each append, compact, and query the compacted index. With
    ``measured`` the appends are the run's measured operations; otherwise
    (the traced run's mini ingest) they are probes. Returns the timings."""
    per_seg = len(corpus) // sizes.segments
    out = {"build_s": [], "seg_q": [], "compact_s": 0.0, "docs": 0}
    qi = 0
    spark = run.spark

    def append(i: int) -> None:
        nonlocal qi
        chunk = corpus.iloc[i * per_seg : (i + 1) * per_seg]
        seg_df = run.write_corpus(chunk, f"{os.path.basename(root)}_seg{i}")
        with run.tracer.span("op.append", op=f"seg-{i}"):
            _, secs = run.build(seg_df, f"{root}/segments/{i:06d}", "segment")
            out["build_s"].append(secs)
            out["docs"] += len(chunk)
            with run.tracer.span("segmented.init"):
                ss = SegmentedSearcher(spark, list_segments(root))
            want = gatemod.build_oracle(corpus.iloc[: (i + 1) * per_seg])
            for _ in range(sizes.seg_queries):
                q = queries[qi % len(queries)]
                qi += 1
                with run.tracer.span("segmented.query", segments=i + 1) as attrs, run.counted(attrs):
                    t0 = time.perf_counter()
                    rows = ss.search([q], k=K_INTERACTIVE).collect()
                    dt = time.perf_counter() - t0
                out["seg_q"].append((i + 1, dt))
                gate.check_run([q], rows, K_INTERACTIVE, oracle=want)

    # the shard count build_index's sizing rule gives the compacted corpus
    shards = auto_num_shards(content_bytes(corpus), min_shards=spark.sparkContext.defaultParallelism)
    for i in range(sizes.segments):
        if measured:
            run.measured_op(append, i)
        else:
            append(i)
    with run.tracer.span("op.compact", op="compact"):
        with run.tracer.span("incremental.compact") as attrs, run.counted(attrs):
            t0 = time.perf_counter()
            tables = compact_segments(spark, root, f"{root}/compacted", num_shards=shards)
            out["compact_s"] = time.perf_counter() - t0
    out["tables"] = tables
    done = corpus.iloc[: sizes.segments * per_seg]
    oracle = gatemod.build_oracle(done)
    gatemod.check_fwd(gate, spark, tables, done)
    ss = SegmentedSearcher(spark, list_segments(root))
    with run.tracer.span("engine.init", op="compacted"):
        s = Searcher(spark, tables)
    if run.trace:
        with run.tracer.span("engine.warm", op="compacted"):
            s.warm()
    sample = [queries[(qi + j) % len(queries)] for j in range(sizes.gate_queries)]
    rows = run.search(s, sample, K_INTERACTIVE, op="compacted", kind="batch")
    seg_rows = ss.search(sample, k=K_INTERACTIVE).collect()
    gate.check_run(sample, rows, K_INTERACTIVE, oracle=oracle)
    got, seg = gatemod.run_to_lists(rows), gatemod.run_to_lists(seg_rows)
    for qid, _ in sample:
        gate.expect(
            [d for d, _, _ in got.get(qid, [])] == [d for d, _, _ in seg.get(qid, [])],
            f"compacted vs segmented results of {qid}",
        )
    out["checked"] = [sample]
    return out


class IngestSegments(Run):
    """Latency = one SegmentedSearcher query after an append (the read
    path beside the writes); throughput = ingested docs/s."""

    def inputs(self) -> None:
        self.corpus = make_corpus_scaled(self.sizes.corpus_docs, seed=self.seed, n_ids=N_IDS)
        qs = make_queries(64, seed=self.seed + 1, n_ids=N_IDS)
        self.queries = [(r.query_id, r.text) for r in qs.itertuples(index=False) if r.text]

    def run(self) -> None:
        self.main_kind = "segment"
        root = self.path("ingest")
        # the gate checks segmented results as they are produced
        self.res = ingest(self, self.corpus, self.sizes, root, self.queries, self.gate, measured=True)
        self.op_times = [dt for _, dt in self.res["seg_q"]]
        self.throughput_per_s = self.res["docs"] / len(self.res["build_s"]) / statistics.median(self.res["build_s"])
        self.main_index = self.res["tables"].index_dir
        self.index_ratio = dir_bytes(self.main_index) / content_bytes(
            self.corpus.iloc[: self.res["docs"]]
        )
        self.details["ingest_docs_per_s"] = (self.throughput_per_s, "docs/s")
        self.details["seg_query_p50_s"] = (self.latency_p50(), "s")
        self.details["seg_query_samples"] = (len(self.op_times), "count")
        self.details["compact_s"] = (self.res["compact_s"], "s")
        self.replay = self.res["checked"]

    def check(self) -> None:
        pass  # checked inside ingest()


WORKLOADS = {
    "build_bulk": BuildBulk,
    "query_mixed": QueryMixed,
    "ingest_segments": IngestSegments,
}
