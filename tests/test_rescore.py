"""Boost functions (Solr bf) + ReRankQParser vs the DuckDB oracle."""

import duckdb
import pytest

from oni_indexer_spark.index import IndexConfig, build_index
from oni_indexer_spark.oracle import boost_topk_sql, rerank_topk_sql
from oni_indexer_spark.query.rescore import boost_topk, rerank_topk
from tests.conftest import SF_SMOKE, jobs_run

CFG = IndexConfig(block_size=64, n_buckets=8)


@pytest.fixture(scope="module")
def rtab(docs):
    t = build_index(docs, CFG)
    t.postings.cache().count()
    t.doclen.cache().count()
    return t


def _oracle(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    return [(r[0], r[1], round(r[2], 6)) for r in con.execute(sql).fetchall()]


def _rows(df):
    return [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in df.orderBy("rank").collect()
    ]


def _assert_match(got, exp):
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


@pytest.mark.parametrize("fn,weight", [("log1p", 0.5), ("linear", 0.01)])
def test_boost_topk_matches_oracle(rtab, fn, weight):
    got = _rows(boost_topk(rtab, "hash join", "dl", k=10, weight=weight, fn=fn))
    exp = _oracle(boost_topk_sql("hash join", "dl", k=10, weight=weight, fn=fn))
    _assert_match(got, exp)
    assert len(got) == 10


def test_boost_reorders_vs_plain(rtab):
    # a large dl boost must actually change the ranking vs plain BM25
    from oni_indexer_spark.query.bm25 import topk

    plain = [r[1] for r in _rows(topk(rtab, "hash join", k=10))]
    boosted = [r[1] for r in _rows(
        boost_topk(rtab, "hash join", "dl", k=10, weight=5.0, fn="log1p"))]
    assert plain != boosted


def test_boost_rejects_unknown_fn(rtab):
    with pytest.raises(ValueError):
        boost_topk(rtab, "hash join", "dl", fn="sqrtish")


def test_rerank_matches_oracle(rtab):
    got = _rows(rerank_topk(rtab, "the", "hash join",
                            k=10, rerank_docs=50, weight=2.0))
    exp = _oracle(rerank_topk_sql("the", "hash join",
                                  k=10, rerank_docs=50, weight=2.0))
    _assert_match(got, exp)


def test_rerank_unmatched_rerank_query_keeps_base(rtab):
    from oni_indexer_spark.query.bm25 import topk

    got = _rows(rerank_topk(rtab, "the", "qqqzzznotaterm",
                            k=10, rerank_docs=30))
    base = _rows(topk(rtab, "the", k=10))
    assert [(g[0], g[1]) for g in got] == [(b[0], b[1]) for b in base]
    exp = _oracle(rerank_topk_sql("the", "qqqzzznotaterm",
                                  k=10, rerank_docs=30))
    _assert_match(got, exp)


def test_rerank_window_bound_respected(rtab):
    # only the top rerank_docs window is rescored: a doc outside the
    # base window can never enter the result, however well it matches
    # the rerank query
    with pytest.raises(ValueError):
        rerank_topk(rtab, "the", "hash", k=20, rerank_docs=10)
    got = _rows(rerank_topk(rtab, "the", "hash join", k=10, rerank_docs=12))
    exp = _oracle(rerank_topk_sql("the", "hash join", k=10, rerank_docs=12))
    _assert_match(got, exp)


def test_window_relation_is_jobless_and_bit_exact(spark):
    """rerank_topk's window (doc_id, base_score) and block list are Arrow
    LocalRelations: building and collecting them runs no Spark job, and
    every double comes back with the same bits (the window's scores
    must not drift before they are re-added)."""
    import numpy as np
    import pyarrow as pa

    from oni_indexer_spark.query.bm25 import _local_df

    rng = np.random.default_rng(7)
    scores = np.concatenate([rng.random(200) * 30, [5e-7, 1.0000025, 1 / 3, 2.0**-40]])
    table = pa.table({
        "doc_id": pa.array(np.arange(scores.size), type=pa.int64()),
        "base_score": pa.array(scores, type=pa.float64()),
    })
    rows, jobs = jobs_run(spark, lambda: _local_df(spark, table).collect())
    assert jobs == 0
    got = np.array([r["base_score"] for r in rows], dtype=np.float64)
    assert got.view(np.int64).tolist() == scores.view(np.int64).tolist()


# ------------------------------------------------ fl stored-field retrieval

def test_topk_fields_matches_oracle(rtab, docs):
    from oni_indexer_spark.oracle import topk_fields_sql
    from oni_indexer_spark.query.bm25 import topk_fields

    df = topk_fields(rtab, docs, "hash join", ["lang", "repo"], k=10)
    got = [(r[0], r[1], round(r[2], 6), r[3], r[4])
           for r in df.orderBy("rank").collect()]
    con_rows = _oracle_raw(topk_fields_sql("hash join", ["lang", "repo"], k=10))
    exp = [(r[0], r[1], round(r[2], 6), r[3], r[4]) for r in con_rows]
    assert got == exp


def test_topk_fields_prunes_doc_scan_and_broadcasts(rtab, docs):
    from oni_indexer_spark.query.bm25 import topk_fields

    df = topk_fields(rtab, docs, "hash join", ["lang"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the doc-store scan must NOT read content for field retrieval
    doc_scans = [l for l in plan.splitlines()
                 if "FileScan" in l and "lang" in l]
    assert doc_scans and all("content" not in l for l in doc_scans)


def test_topk_fields_rejects_unknown_field(rtab, docs):
    from oni_indexer_spark.query.bm25 import topk_fields

    with pytest.raises(ValueError):
        topk_fields(rtab, docs, "hash", ["nope_col"])


def _oracle_raw(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    return con.execute(sql).fetchall()
