"""Corpus stats and term dfs read on the driver (``Searcher._pinned_table``)
against the Spark read they replace.

A cold ``Searcher`` over an index on disk reads its stats rows and the
query terms' dfreq rows with pyarrow from the parquet files the tables'
DataFrames pinned at ``read_index``; the ``spark_metadata`` fixture
zeroes that gate so the same calls take the Spark read. In every index
state a writer or a crash replay leaves, both reads give the same
``(N, avgdl)`` (bit-identical) and dfs, and both match the DuckDB
oracle. A Searcher that memoized its pinned file lists answers like a
fresh rebuild after every writer.
"""

import itertools
import math
import shutil
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
from oni_indexer_spark.query import bm25, topk
from tests.conftest import jobs_run
from tests.test_local_memo import _changed

CFG = IndexConfig(block_size=64, n_buckets=8)
TERMS = ["hash", "join", "merge", "the", "needle_mark", "zzz_not_in_corpus"]
STATES = ["build", "append", "overwrite", "delete", "compact", "crash_replay"]


@pytest.fixture(scope="module")
def states(spark, docs):
    """state → (index path, the live docs as a parquet path for the
    oracle). Each state is a copy of the index taken right after its
    writer (or, for ``crash_replay``, after the replaying read_index)."""
    from tests.test_overwrite import CFG as OVR_CFG
    from tests.test_overwrite import _corpus

    base = tempfile.mkdtemp(prefix="metaread_")
    p = f"{base}/idx"
    out = {}

    def keep(state, live):
        shutil.copytree(p, f"{base}/{state}")
        live.select("doc_id", F.col("content").alias("text")).write.parquet(
            f"{base}/{state}_docs.parquet"
        )
        out[state] = (f"{base}/{state}", f"{base}/{state}_docs.parquet")

    live = docs.where(F.col("doc_id") < 300)
    build_to_path(live, p, CFG, bucket_group_size=8)
    keep("build", live)
    append_to_index(docs.where(F.col("doc_id") >= 300), p)
    live = docs
    keep("append", live)
    ids = [0, 7, 301, 302, 450]
    overwrite_docs(_changed(docs, ids), p)
    live = docs.where(~F.col("doc_id").isin(ids)).unionByName(_changed(docs, ids))
    keep("overwrite", live)
    gone = [1, 2, 3, 303, 499]
    delete_docs(p, spark, doc_ids=gone)
    live = live.where(~F.col("doc_id").isin(gone))
    keep("delete", live)
    compact_index(p, spark)
    keep("compact", live)

    # an overwrite killed after staging, replayed by the next read_index
    p = f"{base}/crash"
    build_to_path(_corpus(spark), p, OVR_CFG, bucket_group_size=4)
    changed = _corpus(spark, marker="needle_mark").where(F.col("doc_id") % 200 == 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        overwrite_docs(changed, p, _fault_after_stage=True)
    read_index(spark, p)  # replays the swap
    keep("crash_replay", _corpus(spark, marker="needle_mark"))
    yield out
    shutil.rmtree(base, ignore_errors=True)


def _oracle(docs_parquet):
    """The oracle's ``(N, avgdl)`` and ``{term: df}`` for TERMS."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_parquet}/*.parquet'")
    ((n, avgdl),) = con.execute(oracle.stats_sql()).fetchall()
    dfs = {t: df for t, df, _cf in con.execute(oracle.dfreq_sql(TERMS)).fetchall()}
    return (n, avgdl), dfs


def _read(spark, tables):
    """``(stats, dfs, jobs)`` of a fresh Searcher's first reads."""
    s = bm25.Searcher(tables)
    (stats, dfs), jobs = jobs_run(spark, lambda: (s.stats(), s.term_dfs(TERMS)))
    return s, stats, dfs, jobs


@pytest.mark.parametrize("state", STATES)
def test_driver_and_spark_reads_agree_with_oracle(spark, states, request, state):
    """In each index state the driver read runs no Spark job, the Spark
    read (gate zeroed) gives the same N, bit-identical avgdl and the
    same dfs, and both match the oracle."""
    path, live = states[state]
    s, stats, dfs, jobs = _read(spark, read_index(spark, path))
    assert jobs == 0, state
    assert s._pinned["stats"][0] and s._pinned["dfreq"][0], state

    request.getfixturevalue("spark_metadata")
    s, spark_stats, spark_dfs, jobs = _read(spark, read_index(spark, path))
    assert jobs > 0, state
    assert s._pinned == {"stats": None, "dfreq": None}, state
    assert stats == spark_stats, state
    assert dfs == spark_dfs, state

    (n, avgdl), want = _oracle(live)
    assert stats[0] == n, state
    assert abs(stats[1] - avgdl) < 1e-6, state
    assert dfs == want, state


def test_append_leaves_two_dfreq_rows_per_term(spark, states):
    """The appended state really sums segments: a term of both batches
    has one dfreq row per segment, and its df is their sum."""
    path, _ = states["append"]
    tables = read_index(spark, path)
    rows = tables.dfreq.where(F.col("term") == "hash").collect()
    assert len(rows) == 2
    assert bm25.Searcher(tables).term_dfs(["hash"]) == {"hash": sum(r["df"] for r in rows)}


def test_in_memory_tables_keep_the_spark_read(spark, docs):
    """A ``build_index`` table has no path: no pinned list is read and
    the Spark read's answer matches the oracle."""
    s = bm25.Searcher(build_index(docs, CFG))
    stats, dfs = s.stats(), s.term_dfs(TERMS)
    assert s._pinned == {}
    base = tempfile.mkdtemp(prefix="metaread_mem_")
    live = f"{base}/docs.parquet"
    docs.select("doc_id", F.col("content").alias("text")).write.parquet(live)
    (n, avgdl), want = _oracle(live)
    assert stats[0] == n and abs(stats[1] - avgdl) < 1e-6
    assert dfs == want
    shutil.rmtree(base, ignore_errors=True)


def test_cached_tables_keep_the_spark_read(spark, states):
    """A cached table's plan reads the cache, so its DataFrame shows no
    pinned file: the Searcher keeps the Spark read (no empty driver
    read) and gives the driver read's answer."""
    path, _ = states["append"]
    _, stats, dfs, _ = _read(spark, read_index(spark, path))
    tables = read_index(spark, path)
    tables.dfreq.cache()
    tables.stats.cache()
    try:
        s, cached_stats, cached_dfs, _ = _read(spark, tables)
        assert s._pinned == {"stats": None, "dfreq": None}
        assert (cached_stats, cached_dfs) == (stats, dfs)
    finally:
        tables.dfreq.unpersist()
        tables.stats.unpersist()


def test_stats_combine_ignores_row_order():
    """``_combine_stats`` gives a bit-identical avgdl for every order of
    the stats rows (signed correction rows included), where a running
    sum of n·avgdl would not."""
    rows = [(1, 1e16), (3, 1.5), (-1, 1e16), (1000, 210.123456789), (-7, 250.3)]
    outs = {bm25._combine_stats(p) for p in itertools.permutations(rows)}
    assert len(outs) == 1
    (n, avgdl), = outs
    assert n == 996
    assert avgdl == math.fsum(k * a for k, a in rows) / 996
    running = {sum(k * a for k, a in p) for p in itertools.permutations(rows)}
    assert len(running) > 1  # the order dependence fsum removes


def test_memoized_pinned_lists_never_outlive_a_write(spark, docs):
    """A Searcher outside the registry (another process's handle) that
    memoized its pinned stats/dfreq lists on a cold query answers like a
    fresh rebuild after an append, a delete and a compaction of its
    index, each time through the driver read of the new files."""
    p = tempfile.mkdtemp(prefix="metaread_fresh_") + "/idx"
    build_to_path(docs.where(F.col("doc_id") < 300), p, CFG, bucket_group_size=8)
    s = bm25.Searcher(read_index(spark, p))  # direct: NOT in the registry
    q = "the hash join"

    def rows(df):
        return [(r["rank"], r["doc_id"], round(r["score"], 6)) for r in df.collect()]

    rows(s.topk(q, k=10))  # cold: lists the pinned stats/dfreq files
    pinned = dict(s._pinned)
    assert pinned["stats"][0] and pinned["dfreq"][0]
    gone = [r["doc_id"] for r in s.topk(q, k=3).collect()]
    writes = [
        ("append", lambda: append_to_index(docs.where(F.col("doc_id") >= 300), p), docs),
        ("delete", lambda: delete_docs(p, spark, doc_ids=gone),
         docs.where(~F.col("doc_id").isin(gone))),
        ("compact", lambda: compact_index(p, spark), docs.where(~F.col("doc_id").isin(gone))),
    ]
    for name, write, live in writes:
        write()
        fresh = build_index(live, CFG)
        assert rows(s.topk(q, k=10)) == rows(topk(fresh, q, k=10)), name
        (n, avgdl), (n_fresh, avgdl_fresh) = s.stats(), bm25.Searcher(fresh).stats()
        assert n == n_fresh and abs(avgdl - avgdl_fresh) < 1e-9, name
        assert s._pinned["stats"][0] and s._pinned["dfreq"][0], name  # the driver read
        assert s._pinned != pinned, name  # of the new files
        pinned = dict(s._pinned)
