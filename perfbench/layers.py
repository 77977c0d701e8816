"""Driver-side layer probes for the traced run.

Each probe calls one layer of the program directly, outside Spark, on the
workload's own data: the tokenizer on a corpus batch, the posting codec
(encode and decode), and a replay of the per-shard top-k kernel on the
posting rows a query set touches. The kernel replay counts decoded blocks
by wrapping ``decode_block`` where the kernel looks it up, from outside.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from flexneuart_spark.config import BM25_B, BM25_K1
from flexneuart_spark.functions.tokenize import code_tokenize, code_tokenize_arrow
from flexneuart_spark.index.codec import encode_postings_batch
from flexneuart_spark.search import scoring


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def tokenize_mb_per_s(contents) -> float:
    mb = sum(len(c.encode()) for c in contents) / 1e6
    return mb / _median_time(lambda: code_tokenize_arrow(contents))


def encode_postings_per_s(contents) -> float:
    """Encode the (term, doc) postings of a corpus batch as one shard, the
    way the index builder's kernel feeds the codec."""
    toks = code_tokenize_arrow(contents)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks if len(t)])
    codes = np.unique(flat, return_inverse=True)[1].astype(np.int64)
    ords = np.repeat(np.arange(len(toks), dtype=np.int64), lens)
    dls = np.repeat(lens, lens)
    m = np.int64(len(toks))
    key = codes * m + ords
    o = np.argsort(key, kind="stable")
    ks = key[o]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    tf = np.diff(np.append(starts, len(ks)))
    gcode = ks[starts] // m
    gord = ks[starts] - gcode * m
    gdl = dls[o[starts]]
    tb = np.append(np.flatnonzero(np.r_[True, gcode[1:] != gcode[:-1]]), len(gcode))
    return len(gord) / _median_time(lambda: encode_postings_batch(gord, tf, gdl, tb, flat=True))


def read_postings(postings_dir: str, terms: list[str]):
    """Posting rows of ``terms`` across all shards, read with pyarrow."""
    dset = ds.dataset(postings_dir, format="parquet", partitioning="hive")
    tbl = dset.to_table(filter=pc.field("term").isin(terms))
    return tbl.to_pylist()


def postings_stats(postings_dir: str) -> tuple[int, int, int]:
    """(rows, postings, payload bytes) of a whole postings table."""
    tbl = ds.dataset(postings_dir, format="parquet", partitioning="hive").to_table(columns=["df_shard", "payload"])
    n_post = int(pc.sum(tbl["df_shard"]).as_py() or 0)
    n_bytes = int(pc.sum(pc.binary_length(tbl["payload"])).as_py() or 0)
    return tbl.num_rows, n_post, n_bytes


def _entries(rows, weights: dict[str, float]) -> dict[int, list]:
    by_shard: dict[int, list] = {}
    for r in rows:
        w = weights.get(r["term"])
        if w is None:
            continue
        by_shard.setdefault(int(r["shard"]), []).append(
            scoring.TermPostings(
                r["payload"], r["block_off"], r["block_n"],
                r["block_max_doc"], r["block_max_tf"], r["block_min_dl"], w,
            )
        )
    return by_shard


class _BlockCounter:
    def __init__(self):
        self.n = 0
        self.inner = scoring.decode_block

    def __call__(self, payload, off, n):
        self.n += 1
        return self.inner(payload, off, n)


def kernel_replay(
    postings_dir: str,
    requests: list[list[tuple[str, str]]],
    idf: dict[str, float],
    avgdl: float,
    k: int,
) -> dict:
    """Replay ``maxscore_topk`` for each request (one search() call's query
    list), per shard, as the engine's scoring stage runs it.

    Returns medians over requests of the kernel time summed over shards
    (``kernel_s``) and of the slowest shard's time (``kernel_crit_s``),
    the decoded-block fraction, and the codec decode rate on the same
    rows."""
    qtf = [
        [(qid, Counter(code_tokenize(text))) for qid, text in req]
        for req in requests
    ]
    terms = sorted({t for req in qtf for _, c in req for t in c if t in idf})
    rows = read_postings(postings_dir, terms) if terms else []

    counter = _BlockCounter()
    scoring.decode_block = counter
    try:
        sums, crits, total_blocks = [], [], 0
        for req in qtf:
            per_shard: dict[int, float] = {}
            for _, c in req:
                weights = {t: n * idf[t] * (BM25_K1 + 1.0) for t, n in c.items() if t in idf}
                for shard, entries in _entries(rows, weights).items():
                    total_blocks += sum(len(e.block_n) for e in entries)
                    t0 = time.perf_counter()
                    scoring.maxscore_topk(entries, k, avgdl, BM25_K1, BM25_B)
                    per_shard[shard] = per_shard.get(shard, 0.0) + time.perf_counter() - t0
            sums.append(sum(per_shard.values()))
            crits.append(max(per_shard.values(), default=0.0))
        decoded = counter.n
    finally:
        scoring.decode_block = counter.inner

    # codec decode rate on the same rows
    entries = [e for es in _entries(rows, {t: 1.0 for t in terms}).values() for e in es]
    n_post = sum(int(np.sum(e.block_n)) for e in entries)
    dec_s = _median_time(lambda: [e.decode_all() for e in entries]) if entries else 0.0
    return {
        "kernel_s": statistics.median(sums) if sums else 0.0,
        "kernel_crit_s": statistics.median(crits) if crits else 0.0,
        "blocks_decoded_frac": decoded / total_blocks if total_blocks else 0.0,
        "decode_postings_per_s": n_post / dec_s if dec_s > 0 else 0.0,
    }
