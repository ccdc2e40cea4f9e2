"""End-to-end BM25 correctness: the index path (build → postings → topk),
the direct declarative path, and the DuckDB oracle must be rank-identical
with scores equal to 1e-6 — the golden-results gate from BASELINE.json
(analogue of the reference's golden-file tests,
test/resolve-items.spec.js:35-46)."""

import duckdb
import pytest

from oni_indexer_spark.index import IndexConfig, build_index
from oni_indexer_spark.oracle import bm25_topk_sql
from oni_indexer_spark.query import topk, topk_direct
from tests.conftest import SF_SMOKE

QUERIES = [
    ("the", 10, "or", None),
    ("hash join", 10, "or", None),
    ("window merge sort", 10, "or", None),
    ("spark batch stream dup", 5, "or", None),
    ("hash join", 10, "and", None),
    ("the scan", 25, "or", None),
    ("zzz_not_in_corpus", 10, "or", None),
    ("the zzz_not_in_corpus", 10, "or", None),
    ("the zzz_not_in_corpus", 10, "and", None),
    ("hash", 10, "or", "en"),
]


def _oracle(query, k, mode, fq_lang):
    sql = bm25_topk_sql(query, k=k, mode=mode, fq_lang=fq_lang)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    return con.execute(sql).fetchall()


@pytest.fixture(scope="module")
def tables(docs):
    t = build_index(docs, IndexConfig(block_size=64, n_buckets=8))
    t.postings.cache().count()
    t.dfreq.cache().count()
    return t


def _rows(df):
    return [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in df.orderBy("rank").collect()
    ]


@pytest.mark.parametrize("query,k,mode,fq_lang", QUERIES)
def test_index_path_matches_oracle(tables, query, k, mode, fq_lang):
    fq = {"lang": fq_lang} if fq_lang else None
    got = _rows(topk(tables, query, k=k, mode=mode, fq=fq))
    exp = [(r[0], r[1], round(r[2], 6)) for r in _oracle(query, k, mode, fq_lang)]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], "rank/doc mismatch"
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


@pytest.mark.parametrize("query,k,mode,fq_lang", QUERIES)
def test_direct_path_matches_index_path(docs, tables, query, k, mode, fq_lang):
    fq = {"lang": fq_lang} if fq_lang else None
    a = _rows(topk(tables, query, k=k, mode=mode, fq=fq))
    b = _rows(topk_direct(docs, query, k=k, mode=mode, fq=fq))
    assert [(x[0], x[1]) for x in a] == [(x[0], x[1]) for x in b]
    for x, y in zip(a, b):
        assert abs(x[2] - y[2]) < 1e-9


def test_index_invariants(docs, tables):
    """Σ tf over postings == total token count; df == distinct docs per
    term; sha256 invariant doclen ↔ documents (FIXTURES.md §4)."""
    from pyspark.sql import functions as F

    from oni_indexer_spark.analyzer import tokens_col

    total_tokens = docs.select(
        F.sum(F.size(tokens_col("content"))).alias("s")
    ).collect()[0]["s"]
    cf_sum = tables.dfreq.agg(F.sum("cf")).collect()[0][0]
    assert int(cf_sum) == int(total_tokens)
    n_sum = tables.postings.agg(F.sum("n")).collect()[0][0]
    df_sum = tables.dfreq.agg(F.sum("df")).collect()[0][0]
    assert int(n_sum) == int(df_sum)
    # sha256 invariant
    joined = tables.doclen.alias("a").join(
        docs.select("doc_id", F.sha2("content", 256).alias("sha")).alias("b"), "doc_id"
    )
    bad = joined.where(F.col("a.content_sha256") != F.col("b.sha")).count()
    assert bad == 0


def test_blockaligned_carry_across_tiny_arrow_batches(spark, docs):
    """The multi-term scorer must never split a block across Arrow
    batches (a doc's total would be computed partially). Force 2-row
    batches so every multi-term block straddles a boundary and exercise
    the carry logic end to end."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, "2")
    try:
        t = build_index(docs, IndexConfig(block_size=16, n_buckets=4))
        a = _rows(topk(t, "the scan join", k=25, prune=False))
        b = _rows(topk_direct(docs, "the scan join", k=25))
        assert a == b
        a2 = _rows(topk(t, "hash join", k=10, mode="and"))
        b2 = _rows(topk_direct(docs, "hash join", k=10, mode="and"))
        assert a2 == b2
    finally:
        spark.conf.set(key, old)


def test_fq_pushdown_and_join_paths_agree(tables):
    """r4 VERDICT #4: a selective fq ships as a broadcast sorted doc_id
    array into the scorers (candidate selection stays on, output
    O(k·batches)); an unselective one keeps the doclen semi-join. Both
    paths must be rank/score-identical to the oracle."""
    from oni_indexer_spark.query.bm25 import Searcher

    exp = [(r[0], r[1], round(r[2], 6)) for r in _oracle("hash join the", 10, "or", "en")]

    pushed = Searcher(tables)  # default threshold: fq fits, pushdown on
    got_pushed = _rows(pushed.topk("hash join the", k=10, fq={"lang": "en"}))
    assert (pushed._fq_cache[(("lang", "en"),)][1] is not None), "expected pushdown"

    joined = Searcher(tables)
    joined.fq_pushdown_max_docs = 0  # force the legacy semi-join path
    got_joined = _rows(joined.topk("hash join the", k=10, fq={"lang": "en"}))
    assert joined._fq_cache[(("lang", "en"),)][1] is None

    for got in (got_pushed, got_joined):
        assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
        for g, e in zip(got, exp):
            assert abs(g[2] - e[2]) < 1e-6


def test_fq_no_match_short_circuits(tables):
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(tables)
    assert _rows(s.topk("hash", k=10, fq={"lang": "zz_nope"})) == []
