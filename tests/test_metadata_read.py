"""Corpus stats, term dfs and the local regime's postings read on the
driver (``Searcher._pinned_table``) against the Spark reads they replace.

A cold ``Searcher`` over an index on disk reads its stats rows, the
query terms' dfreq rows and their postings block rows with pyarrow from
the parquet files the tables' DataFrames pinned at ``read_index``; the
``spark_reads`` fixture zeroes that gate so the same calls take the
Spark reads. In every index state a writer or a crash replay leaves,
both reads give the same ``(N, avgdl)`` (bit-identical), dfs and block
rows (same schema, rows and order), and the metadata matches the DuckDB
oracle. A Searcher that memoized its pinned file lists answers like a
fresh rebuild after every writer.
"""

import itertools
import math
import os
import shutil
import tempfile
from dataclasses import replace
from urllib.parse import unquote, urlsplit

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


def _states(spark, docs, cfg):
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
    build_to_path(live, p, cfg, bucket_group_size=8)
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
    build_to_path(_corpus(spark), p, replace(OVR_CFG, positions=cfg.positions),
                  bucket_group_size=4)
    changed = _corpus(spark, marker="needle_mark").where(F.col("doc_id") % 200 == 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        overwrite_docs(changed, p, _fault_after_stage=True)
    read_index(spark, p)  # replays the swap
    keep("crash_replay", _corpus(spark, marker="needle_mark"))
    yield out
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def states(spark, docs):
    yield from _states(spark, docs, CFG)


@pytest.fixture(scope="module")
def pos_states(spark, docs):
    """:func:`states` of a positional index."""
    yield from _states(spark, docs, replace(CFG, positions=True))


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

    request.getfixturevalue("spark_reads")
    s, spark_stats, spark_dfs, jobs = _read(spark, read_index(spark, path))
    assert jobs > 0, state
    assert s._pinned == {"stats": None, "dfreq": None}, state
    assert stats == spark_stats, state
    assert dfs == spark_dfs, state

    (n, avgdl), want = _oracle(live)
    assert stats[0] == n, state
    assert abs(stats[1] - avgdl) < 1e-6, state
    assert dfs == want, state


@pytest.mark.parametrize("state", STATES)
@pytest.mark.parametrize("layout", ["states", "pos_states"])
def test_driver_and_spark_postings_reads_agree(spark, request, layout, state):
    """In each index state, plain and positional, the block rows
    ``_local_rows`` reads on the driver (no Spark job) and the ones it
    collects with Spark (gate zeroed, one job) are the same table: same
    schema, same rows, same order."""
    path, _ = request.getfixturevalue(layout)[state]
    dfs = bm25.Searcher(read_index(spark, path)).term_dfs(TERMS)
    s = bm25.Searcher(read_index(spark, path))
    rows, jobs = jobs_run(spark, lambda: s._local_rows(dfs))
    assert jobs == 0 and s._pinned["postings"][0], state
    assert rows.num_rows > 0 and ("n" in rows.column_names) == (layout == "pos_states")

    request.getfixturevalue("spark_reads")
    s = bm25.Searcher(read_index(spark, path))
    spark_rows, jobs = jobs_run(spark, lambda: s._local_rows(dfs))
    assert jobs == 1 and s._pinned == {"postings": None}, state
    assert rows.schema.equals(spark_rows.schema, check_metadata=True), state
    assert rows.equals(spark_rows), state


def _file_bytes(uri):
    return os.path.getsize(unquote(urlsplit(uri).path))


def test_byte_gate_falls_back_when_the_mean_understates(spark, states, monkeypatch):
    """Postings files differ in size (base vs appended segment), so the
    byte gate's estimate (mean pinned file size × files selected) can be
    low. With the bound between a bucket's estimate and its real bytes,
    the driver read starts, stops once the bytes read pass the bound and
    the query falls back to the Spark collect — with the oracle's
    answer."""
    import duckdb

    from oni_indexer_spark import fsio
    from oni_indexer_spark.oracle import bm25_topk_sql

    path, live = states["append"]
    tables = read_index(spark, path)
    s = bm25.Searcher(tables)
    s._pinned_table("postings", "tid long", [])  # the pinned list alone
    files, mean = s._pinned["postings"]

    # bucket → (estimated, actual) bytes of its pinned files
    sizes = {}
    for f in files:
        b = next(int(d[len("bucket="):]) for d in f.split("/") if d.startswith("bucket="))
        est, got = sizes.get(b, (0, 0))
        sizes[b] = (est + mean, got + _file_bytes(f))
    # the bucket whose files the mean understates the most
    b = max(sizes, key=lambda b: sizes[b][1] / sizes[b][0])
    estimate, actual = sizes[b]
    assert estimate < actual
    term = tables.dfreq.where(F.col("bucket") == b).orderBy(F.desc("df"), "term").first()["term"]
    s.stats(), s.term_dfs([term])

    reads = []
    read_files = fsio.Fs.read_files

    def spy(self, uris, max_bytes):
        reads.append(read_files(self, uris, max_bytes))
        return reads[-1]

    monkeypatch.setattr(fsio.Fs, "read_files", spy)
    monkeypatch.setattr(bm25, "_PINNED_MAX_LOCAL_BYTES", int((estimate + actual) / 2))
    got, jobs = jobs_run(spark, lambda: s.topk(term, k=10).collect())
    assert reads == [None]  # started, then stopped at the bound
    assert jobs == 1  # the Spark collect
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{live}/*.parquet'")
    want = con.execute(bm25_topk_sql(term, k=10)).fetchall()
    assert [(r["rank"], r["doc_id"]) for r in got] == [w[:2] for w in want]
    assert all(abs(r["score"] - w[2]) < 1e-6 for r, w in zip(got, want))


def test_index_under_a_path_with_space_and_percent(spark, docs):
    """``inputFiles()`` percent-encodes its URIs: the driver reads decode
    them, so an index under ``a b%c/`` answers with no Spark job, like
    a fresh in-memory build."""
    base = tempfile.mkdtemp(prefix="metaread_uri_")
    p = f"{base}/a b%c/idx"
    build_to_path(docs, p, CFG, bucket_group_size=8)
    tables = read_index(spark, p)
    assert "a%20b%25c" in tables.postings.inputFiles()[0]
    s = bm25.Searcher(tables)
    got, jobs = jobs_run(spark, lambda: s.topk("the hash join", k=10).collect())
    assert jobs == 0
    assert all(s._pinned[n][0] for n in ("stats", "dfreq", "postings"))
    assert got == topk(build_index(docs, CFG), "the hash join", k=10).collect()
    shutil.rmtree(base, ignore_errors=True)


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
    _, jobs = jobs_run(spark, lambda: s._local_rows(dfs))
    assert jobs > 0  # the postings collect (and the build it reads)
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
    pinned file: the Searcher keeps the Spark reads (no empty driver
    read) and gives the driver reads' answers."""
    path, _ = states["append"]
    s, stats, dfs, _ = _read(spark, read_index(spark, path))
    rows = s._local_rows(dfs)
    tables = read_index(spark, path)
    for t in (tables.dfreq, tables.stats, tables.postings):
        t.cache()
    try:
        s, cached_stats, cached_dfs, _ = _read(spark, tables)
        cached_rows = s._local_rows(cached_dfs)
        assert s._pinned == {"stats": None, "dfreq": None, "postings": None}
        assert (cached_stats, cached_dfs) == (stats, dfs)
        assert cached_rows.equals(rows)
    finally:
        for t in (tables.dfreq, tables.stats, tables.postings):
            t.unpersist()


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
