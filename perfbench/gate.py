"""Correctness gate: engine results against ``oracle.Bm25Oracle``.

A query passes when the engine's ranked list has the oracle's doc_ids at
the oracle's ranks, with scores within ``SCORE_TOL`` (relative). Two
orderings are both correct only inside a group of oracle scores that tie
within ``TIE_TOL`` — the engine and the oracle sum BM25 terms in different
orders, so an exact tie in one can differ in the last bits in the other —
and that includes a tie group straddling rank k. Each failed query counts
as one failed operation.
"""

from __future__ import annotations

import hashlib

from flexneuart_spark.config import MAX_DOC_SIZE
from flexneuart_spark.functions.tokenize import code_tokenize
from flexneuart_spark.oracle import Bm25Oracle

TIE_TOL = 1e-9
SCORE_TOL = 1e-6
_EXTRA = 32  # oracle hits fetched beyond k to resolve a tie at the cut


def doc_id(row) -> str:
    return f"{row.repo}:{row.path}@{row.commit}"


def build_oracle(corpus) -> Bm25Oracle:
    """Oracle over a generated corpus (pandas frame), tokenized with the
    plain-Python reference tokenizer after the ingest truncation."""
    return Bm25Oracle(
        [(doc_id(r), code_tokenize(r.content[:MAX_DOC_SIZE])) for r in corpus.itertuples(index=False)]
    )


def run_to_lists(rows) -> dict[str, list[tuple[str, float, int]]]:
    """Collected run rows → {query_id: [(doc_id, score, rank)] by rank}."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((r.doc_id, float(r.score), int(r.rank)))
    for v in out.values():
        v.sort(key=lambda t: t[2])
    return out


def ranks_match(got: list[tuple[str, float, int]], want: list[tuple[str, float]], k: int) -> bool:
    """``got``: engine (doc_id, score, rank) by rank; ``want``: oracle
    hits (doc_id, score) for up to k + _EXTRA ranks."""
    if [g[2] for g in got] != list(range(1, len(got) + 1)):
        return False
    if len(got) != min(k, len(want)):
        return False
    i = 0
    while i < len(got):
        j = i + 1
        s_i = want[i][1]
        while j < len(want) and abs(want[j][1] - s_i) <= TIE_TOL * max(1.0, abs(s_i)):
            j += 1
        cut = min(j, len(got))
        got_ids = {d for d, _, _ in got[i:cut]}
        want_ids = {d for d, _ in want[i:j]}
        if j <= len(got):
            if got_ids != want_ids:
                return False
        elif not got_ids <= want_ids:  # tie group straddles rank k
            return False
        for d, s, _ in got[i:cut]:
            if abs(s - s_i) > SCORE_TOL * max(1.0, abs(s_i)):
                return False
        i = cut
    return True


class Gate:
    """Counts gate checks (attempted) and mismatches (failed)."""

    def __init__(self, oracle: Bm25Oracle | None = None, perturb: bool = False):
        self.oracle = oracle
        # self-test hook: swap ranks 1 and 2 of the first result that has
        # two distinct scores, which the gate must then count as failed
        self.perturb = perturb
        self.checked = 0
        self.failed = 0
        self.first_failure: str | None = None

    def check_run(self, queries: list[tuple[str, str]], rows, k: int, oracle: Bm25Oracle | None = None) -> None:
        """Check every query of one search() call; ``oracle`` overrides the
        gate's own (the segment set grows during ingest)."""
        run = run_to_lists(rows)
        for qid, text in queries:
            got = run.get(qid, [])
            if self.perturb and len(got) >= 2 and got[0][1] != got[1][1]:
                got = [(got[1][0], got[0][1], 1), (got[0][0], got[1][1], 2)] + got[2:]
                self.perturb = False
            want = (oracle or self.oracle).search(code_tokenize(text), k + _EXTRA)
            self.expect(ranks_match(got, want, k), f"query {qid} {text!r}")

    def expect(self, ok: bool, what: str) -> None:
        self.checked += 1
        if not ok:
            self.failed += 1
            if self.first_failure is None:
                self.first_failure = what


def check_fwd(gate: Gate, spark, tables, corpus) -> None:
    """Every fwd-table content_sha256 equals sha256 of its input row, and
    the lineage n_docs sum to the corpus row count."""
    want = {doc_id(r): hashlib.sha256(r.content.encode()).hexdigest() for r in corpus.itertuples(index=False)}
    got = {r.doc_id: r.content_sha256 for r in tables.docmap(spark).select("doc_id", "content_sha256").collect()}
    gate.expect(got == want, "fwd content_sha256 != input sha256")
    n = tables.lineage(spark).agg({"n_docs": "sum"}).collect()[0][0]
    gate.expect(int(n or 0) == len(corpus), f"lineage n_docs {n} != {len(corpus)}")
