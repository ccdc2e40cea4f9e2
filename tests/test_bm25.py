"""End-to-end BM25 correctness: the index path (build → postings → topk)
and the DuckDB oracle must be rank-identical with scores equal to 1e-6 — the golden-results gate from BASELINE.json
(analogue of the reference's golden-file tests,
test/resolve-items.spec.js:35-46)."""

import duckdb
import pytest

from oni_indexer_spark.index import IndexConfig, build_index
from oni_indexer_spark.oracle import bm25_topk_sql
from oni_indexer_spark.query import topk
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


def _assert_matches_oracle(got, query, k, mode="or", fq_lang=None):
    exp = [(r[0], r[1], round(r[2], 6)) for r in _oracle(query, k, mode, fq_lang)]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], "rank/doc mismatch"
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


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
    _assert_matches_oracle(got, query, k, mode, fq_lang)


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
        got = _rows(topk(t, "the scan join", k=25, prune=False))
        _assert_matches_oracle(got, "the scan join", 25)
        got = _rows(topk(t, "hash join", k=10, mode="and"))
        _assert_matches_oracle(got, "hash join", 10, "and")
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


# doc_id, score: 7th-decimal half-way points (Spark rounds the shortest
# decimal form half-up; Python/numpy round the binary value half-even,
# so 5e-7 → 0 there but 1e-6 in Spark), rounded ties whose raw order is
# the reverse of their doc_id order, and filler below them
RANK_TWIN_ROWS = [
    (11, 0.0000005), (12, 0.000001),
    (21, 1.0000025), (22, 1.000003), (23, 1.0000015), (24, 1.000002),
    (31, 2.5000005), (32, 2.500001),
    (41, 3.0000004), (42, 3.0000001), (43, 3.0000003),
    (51, 7.7777775), (52, 7.777778),
] + [(100 + i, 0.25 + i * 1e-7) for i in range(40)]


@pytest.mark.parametrize("k", [1, 3, 10, 60, 100])
def test_driver_ranking_matches_spark_round(spark, k):
    """The driver-side top-k of a local result (``_ranked_arrow``) orders
    exactly like Spark's ``_ranked``: (round(score, 6) desc, doc_id
    asc) — at half-way points, on rounded ties, for k=1 and for k
    above the row count."""
    import pyarrow as pa

    from oni_indexer_spark.query.bm25 import _local_df, _ranked

    table = pa.table({
        "doc_id": pa.array([d for d, _ in RANK_TWIN_ROWS], type=pa.int64()),
        "score": pa.array([s for _, s in RANK_TWIN_ROWS], type=pa.float64()),
    })
    driver = [tuple(r) for r in _ranked(spark, table, k).collect()]
    jvm = [tuple(r) for r in _ranked(spark, _local_df(spark, table), k).collect()]
    assert driver == jvm
    assert len(driver) == min(k, len(RANK_TWIN_ROWS))
    # the half-way points really do separate the two rounding rules
    assert round(0.0000005, 6) == 0.0
    if k >= 60:
        assert [d for _, d, _ in driver][:2] == [51, 52]
        assert [d for _, d, _ in driver if d in (11, 12)] == [11, 12]
        assert [d for _, d, _ in driver if d // 10 == 4] == [41, 42, 43]
