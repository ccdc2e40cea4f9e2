"""Answer checks against the engine's DuckDB oracle builders.

Every distinct operation is compared with the oracle twin in
``oni_indexer_spark/oracle.py``, run over the same live document set:
rows and their order must match exactly and scores must agree within
1e-6. Checks run outside the timed window.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass

import duckdb

SCORE_TOL = 1e-6


@dataclass(frozen=True)
class Op:
    """One query of the mix. ``kind`` picks the engine entry point:
    ``topk`` (query.bm25.topk), ``facet`` (query.facets.facet_query),
    ``search`` (Searcher.search, the boolean parser) or ``prefix``
    (query.bm25.prefix_topk)."""

    name: str
    kind: str
    query: str
    k: int = 10
    mode: str = "or"
    fq: tuple = ()
    named: tuple = ()
    expect_rows: bool = True


def rows_of(op: Op, collected) -> list[tuple]:
    if op.kind == "facet":
        return sorted((r["name"], int(r["count"])) for r in collected)
    return sorted(
        (int(r["rank"]), int(r["doc_id"]), round(float(r["score"]), 6)) for r in collected
    )


def oracle_sql(op: Op, prefix_rewrite: str | None = None) -> str:
    from oni_indexer_spark.oracle import (
        bm25_prefix_topk_sql,
        bm25_topk_sql,
        boolean_query_sql,
        facet_query_sql,
    )

    if op.kind == "topk":
        fq = dict(op.fq)
        return bm25_topk_sql(
            op.query, k=op.k, mode=op.mode, fq_lang=fq.get("lang"), text_col="content"
        )
    if op.kind == "facet":
        return facet_query_sql(op.query, dict(op.named), text_col="content")
    if op.kind == "search":
        return boolean_query_sql(op.query, k=op.k, text_col="content")
    if op.kind == "prefix":
        return bm25_prefix_topk_sql(
            op.query, k=op.k, text_col="content", rewrite=prefix_rewrite or "scoring"
        )
    raise ValueError(op.kind)


class Oracle:
    """A DuckDB connection whose ``documents`` view follows a LiveDocs."""

    def __init__(self, live, threads: int):
        self.live = live
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        # spill files, if any, stay in the checkout's scratch directory
        self.con.execute(f"SET temp_directory='{tempfile.gettempdir()}/duckdb'")

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> list[tuple]:
        self.con.execute(self.live.view_sql())
        return self.con.execute(sql).fetchall()

    def prefix_rewrite(self, op: Op) -> str:
        """The rewrite ``Searcher.prefix_topk(rewrite="auto")`` picks for
        this corpus: scoring up to PREFIX_SCORING_MAX_TERMS expansions."""
        from oni_indexer_spark.analyzer import analyzer_tokenize_py, analyzer_tokens_sql
        from oni_indexer_spark.query.bm25 import Searcher

        pre = analyzer_tokenize_py(op.query)[0].replace("'", "''")
        n = self.query(
            f"SELECT count(DISTINCT term) FROM (SELECT unnest("
            f"{analyzer_tokens_sql('content')}) AS term FROM documents) "
            f"WHERE starts_with(term, '{pre}')"
        )[0][0]
        return "scoring" if min(n, 128) <= Searcher.PREFIX_SCORING_MAX_TERMS else "constant"

    def expected(self, op: Op) -> list[tuple]:
        rewrite = self.prefix_rewrite(op) if op.kind == "prefix" else None
        got = self.query(oracle_sql(op, rewrite))
        if op.kind == "facet":
            return sorted((r[0], int(r[1])) for r in got)
        return sorted((int(r[0]), int(r[1]), round(float(r[2]), 6)) for r in got)


def mismatch(op: Op, got: list[tuple], exp: list[tuple]) -> str | None:
    """Why ``got`` differs from the oracle's ``exp``, or None."""
    if op.expect_rows and not got:
        return "empty result for an op meant to return rows"
    if not op.expect_rows and got:
        return f"{len(got)} rows for an op meant to return none"
    if op.kind == "facet":
        return None if got == exp else f"facet counts {got} != oracle {exp}"
    if [g[:2] for g in got] != [e[:2] for e in exp]:
        return f"rank/doc_id differ: {got[:3]}... vs oracle {exp[:3]}..."
    for g, e in zip(got, exp):
        if abs(g[2] - e[2]) >= SCORE_TOL:
            return f"score {g[2]} vs oracle {e[2]} at rank {g[0]}"
    return None
