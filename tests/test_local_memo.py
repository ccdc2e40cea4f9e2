"""The local regime's per-Searcher memos — postings block rows per term
(``Searcher._local_rows``), prefix and fuzzy expansions — and the
generation-token freshness check that bounds their lifetime.

Cold/warm parity: for every local op kind, the first call on a fresh
``Searcher`` and its repeat return the same rows with bit-identical
scores, and both match the DuckDB oracle — also with the memo bound
shrunk so far that every call evicts. Freshness: a warm memo on a
Searcher outside the registry never outlives a write to its index by
any writer.
"""

import os
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from oni_indexer_spark import oracle
from oni_indexer_spark.index import (
    IndexConfig,
    append_to_index,
    build_index,
    build_to_path,
    compact_index,
    delete_docs,
    overwrite_docs,
    read_index,
)
from oni_indexer_spark.query import (
    facet_query,
    fuzzy_topk,
    prefix_topk,
    search,
    synonym_topk,
    topk,
)
from oni_indexer_spark.query import bm25
from tests.conftest import SF_SMOKE

CFG = IndexConfig(block_size=64, n_buckets=8, positions=True)
FACETS = {"m": "merge", "ss": "scan sort", "w": "window"}
SYNONYMS = [["join", "merge"], "hash"]


@pytest.fixture(scope="module")
def memo_path(docs):
    p = tempfile.mkdtemp(prefix="memoidx_") + "/idx"
    build_to_path(docs, p, CFG, bucket_group_size=8)
    return p


@pytest.fixture(scope="module")
def lang(docs):
    return docs.select("lang").first()["lang"]


def _oracle(sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _cases(lang):
    """op kind → (engine call on tables, oracle SQL)."""
    q_bool = f"+hash -window merge lang:{lang}"
    return {
        "or": (lambda t: topk(t, "hash join merge", k=10),
               oracle.bm25_topk_sql("hash join merge", k=10)),
        "and": (lambda t: topk(t, "hash join", k=10, mode="and"),
                oracle.bm25_topk_sql("hash join", k=10, mode="and")),
        "fq": (lambda t: topk(t, "hash join", k=10, fq={"lang": lang}),
               oracle.bm25_topk_sql("hash join", k=10, fq_lang=lang)),
        "phrase": (lambda t: topk(t, "hash join", k=10, mode="phrase"),
                   oracle.bm25_phrase_topk_sql("hash join", k=10)),
        "search": (lambda t: search(t, q_bool, k=10), oracle.boolean_query_sql(q_bool, k=10)),
        "prefix_scoring": (lambda t: prefix_topk(t, "s", k=10, rewrite="scoring"),
                           oracle.bm25_prefix_topk_sql("s", k=10, rewrite="scoring")),
        "prefix_constant": (lambda t: prefix_topk(t, "s", k=10, rewrite="constant"),
                            oracle.bm25_prefix_topk_sql("s", k=10, rewrite="constant")),
        "fuzzy": (lambda t: fuzzy_topk(t, "hash", k=10), oracle.bm25_fuzzy_topk_sql("hash", k=10)),
        "facet": (lambda t: facet_query(t, "hash join", FACETS),
                  oracle.facet_query_sql("hash join", FACETS)),
        "synonym": (lambda t: synonym_topk(t, SYNONYMS, k=10),
                    oracle.synonym_topk_sql(SYNONYMS, k=10)),
    }


CASES = ["or", "and", "fq", "phrase", "search", "prefix_scoring", "prefix_constant",
         "fuzzy", "facet", "synonym"]


def _assert_oracle(got, exp, name):
    assert got, name
    assert [g[:-1] for g in got] == [e[:-1] for e in exp], name
    for g, e in zip(got, exp):
        assert abs(g[-1] - e[-1]) < 1e-6, name


@pytest.mark.parametrize("evict", [False, True], ids=["memo", "evict_every_call"])
@pytest.mark.parametrize("name", CASES)
def test_cold_and_warm_answers_are_identical(spark, memo_path, lang, monkeypatch, name, evict):
    """A first call on a fresh Searcher and its repeat (block rows and
    expansions memoized — or, with the bound at zero, evicted after
    every call) return the same rows with bit-identical scores, and
    both match the oracle."""
    if evict:
        monkeypatch.setattr(bm25, "_LOCAL_ROWS_MAX_POSTINGS", 0)
    call, sql = _cases(lang)[name]
    tables = read_index(spark, memo_path)  # a fresh Searcher
    cold = [tuple(r) for r in call(tables).collect()]
    warm = [tuple(r) for r in call(tables).collect()]
    assert warm == cold, name
    _assert_oracle(cold, _oracle(sql), name)
    info = bm25.searcher_for(tables).cache_info()
    assert info.misses > 0, name
    if evict:
        assert info.hits == 0 and info.postings == 0 and info.evictions > 0, name
    else:
        assert info.hits > 0 and info.evictions == 0, name


def test_lru_eviction_keeps_every_answer_exact(spark, memo_path, lang, monkeypatch):
    """With a bound that holds the ``or`` query's three terms but not the
    whole mix, the ops on one Searcher (each run twice) both hit and
    evict; every answer still matches the oracle, and the memoized Σ df
    stays within the bound."""
    tables = read_index(spark, memo_path)
    bound = sum(bm25.searcher_for(tables).term_dfs(["hash", "join", "merge"]).values())
    monkeypatch.setattr(bm25, "_LOCAL_ROWS_MAX_POSTINGS", bound)
    cases = _cases(lang)
    for name in CASES:
        call, sql = cases[name]
        for _ in range(2):
            _assert_oracle([tuple(r) for r in call(tables).collect()], _oracle(sql), name)
            assert bm25.searcher_for(tables).cache_info().postings <= bound
    info = bm25.searcher_for(tables).cache_info()
    assert info.hits > 0 and info.evictions > 0


def test_cache_info_counts_cold_misses_then_warm_hits(spark, memo_path):
    """``cache_info()``: a cold two-term query misses both terms and
    memoizes their Σ df; its warm repeat hits both."""
    s = bm25.Searcher(read_index(spark, memo_path))
    assert s.cache_info() == bm25.CacheInfo(0, 0, 0, 0)
    s.topk("hash join", k=10).collect()
    dfs = s.term_dfs(["hash", "join"])
    assert s.cache_info() == bm25.CacheInfo(0, 2, 0, sum(dfs.values()))
    s.topk("hash join", k=10).collect()
    assert s.cache_info() == bm25.CacheInfo(2, 2, 0, sum(dfs.values()))


def test_freshness_check_is_one_token_read(spark, memo_path):
    """A warm Searcher's freshness check reads the generation token only:
    a handful of py4j round trips, no directory listing."""
    s = bm25.Searcher(read_index(spark, memo_path))
    s.topk("hash", k=10).collect()
    client = spark.sparkContext._gateway._gateway_client
    cls = type(client)
    send = cls.send_command
    sent = []

    def counted(this, *a, **kw):
        sent.append(a[0] if a else kw.get("command"))
        return send(this, *a, **kw)

    cls.send_command = counted
    try:
        s._check_external_staleness()
    finally:
        cls.send_command = send
    assert isinstance(s._generation, bytes)
    assert 0 < len(sent) <= 6


# ------------------------------------------------------------ freshness

QUERIES = ["hash join", "the scan"]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def _changed(docs, ids):
    """Docs ``ids`` with a marker term appended to their text (so their
    dl, hence every score they carry, changes)."""
    return docs.where(F.col("doc_id").isin(ids)).withColumn(
        "content", F.concat_ws(" ", "content", F.lit("needle_mark"))
    )


def _write(writer, spark, docs, p, top):
    """Write to the index at ``p`` as ``writer``, touching the docs
    ``top`` (the warm answers' leaders); returns the docs a fresh
    rebuild of the result indexes."""
    if writer == "delete":
        delete_docs(p, spark, doc_ids=top)
        return docs.where(~F.col("doc_id").isin(top))
    if writer == "compact":
        compact_index(p, spark)
        return docs
    if writer == "overwrite":
        overwrite_docs(_changed(docs, top), p)
        kept = docs.where(~F.col("doc_id").isin(top))
        return kept.unionByName(_changed(docs, top))
    fewer = docs.where(~F.col("doc_id").isin(top))
    build_to_path(fewer, p, CFG, bucket_group_size=8, resume=False)
    return fewer


@pytest.mark.parametrize("writer", ["delete", "compact", "overwrite", "rebuild"])
def test_external_write_invalidates_warm_memo(spark, docs, writer):
    """A Searcher outside the registry (another process's handle) with a
    warm memo answers the next query after any writer's change like a
    fresh rebuild: the token moved, so it dropped its memos and
    re-opened its tables. The writers touch the docs the warm answers
    lead with, so a stale memo would show."""
    p = tempfile.mkdtemp(prefix=f"memo_{writer}_") + "/idx"
    if writer == "compact":  # segments to merge
        build_to_path(docs.where(F.col("doc_id") < 300), p, CFG, bucket_group_size=8)
        append_to_index(docs.where(F.col("doc_id") >= 300), p)
    else:
        build_to_path(docs, p, CFG, bucket_group_size=8)
    s = bm25.Searcher(read_index(spark, p))  # direct: NOT in the registry
    warm = {}
    for q in QUERIES + ["needle_mark"]:
        _rows(s.topk(q, k=10))
        warm[q] = _rows(s.topk(q, k=10))  # warm: block rows memoized
    _rows(s.prefix_topk("s", k=10))
    opened, token = s.tables, s._generation
    assert s.cache_info().postings > 0
    top = sorted({d for q in QUERIES for _, d, _ in warm[q][:3]})
    fresh = build_index(_write(writer, spark, docs, p, top), CFG)
    for q in QUERIES + ["needle_mark"]:
        assert _rows(s.topk(q, k=10)) == _rows(topk(fresh, q, k=10)), (writer, q)
    assert _rows(s.prefix_topk("s", k=10)) == _rows(prefix_topk(fresh, "s", k=10)), writer
    assert s.tables is not opened and s._generation != token


def test_build_to_path_writes_generation_token(spark, docs):
    """``build_to_path`` writes the generation token as its last step,
    and a rebuild over the same path writes a new one."""
    from oni_indexer_spark.index.lineage import Lineage

    p = tempfile.mkdtemp(prefix="memo_token_") + "/idx"
    some = docs.where(F.col("doc_id") < 200)
    build_to_path(some, p, CFG, bucket_group_size=8)
    first = Lineage(spark, p).read_generation()
    assert first is not None
    build_to_path(some, p, CFG, bucket_group_size=8, resume=False)
    assert Lineage(spark, p).read_generation() not in (None, first)


def test_index_without_token_falls_back_to_listing(spark, docs):
    """An index whose token file is gone (written before tokens existed)
    is checked by its ``_lineage`` listing; a later append is still seen,
    and from then on the token is compared."""
    p = tempfile.mkdtemp(prefix="memo_notoken_") + "/idx"
    a = docs.where(F.col("doc_id") < 300)
    build_to_path(a, p, CFG, bucket_group_size=8)
    os.remove(f"{p}/_lineage/_generation")
    s = bm25.Searcher(read_index(spark, p))
    _rows(s.topk("hash join", k=10))
    _rows(s.topk("hash join", k=10))
    assert isinstance(s._generation, tuple)  # the listing
    append_to_index(docs.where(F.col("doc_id") >= 300), p)
    fresh = build_index(docs, CFG)
    assert _rows(s.topk("hash join", k=10)) == _rows(topk(fresh, "hash join", k=10))
    assert isinstance(s._generation, bytes)  # the append wrote a token
