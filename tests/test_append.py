"""Append-only incremental indexing (C11) + streaming ingest: an index
built as base + appended segments must answer queries EXACTLY like a
full rebuild over the union."""

import tempfile

import pytest
from pyspark.sql import functions as F

from oni_indexer_spark.index import (
    IndexConfig,
    append_to_index,
    build_index,
    build_to_path,
    read_index,
)
from oni_indexer_spark.query import topk

CFG = IndexConfig(block_size=64, n_buckets=8)
QUERIES = ["the", "hash join", "scan merge window", "the scan"]


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 6)) for r in df.collect()]


@pytest.fixture(scope="module")
def split_docs(docs):
    a = docs.where(F.col("doc_id") < 300).cache()
    b = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)).cache()
    c = docs.where(F.col("doc_id") >= 400).cache()
    return a, b, c


def test_append_matches_full_rebuild(spark, docs, split_docs):
    a, b, c = split_docs
    p = tempfile.mkdtemp(prefix="appendidx_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    append_to_index(b, p)
    append_to_index(c, p)
    appended = read_index(spark, p)
    full = build_index(docs, CFG)
    assert appended.stats.count() == 3  # one segment row per batch
    for q in QUERIES:
        assert _rows(topk(appended, q, k=10)) == _rows(topk(full, q, k=10)), q
    # prune must stay lossless across segments (avgdl drifted)
    for q in QUERIES:
        assert _rows(topk(appended, q, k=10, prune=True)) == _rows(
            topk(appended, q, k=10, prune=False)
        ), q


def test_append_rejects_stale_doc_ids(spark, split_docs):
    a, b, _ = split_docs
    p = tempfile.mkdtemp(prefix="appendidx2_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    with pytest.raises(ValueError, match="fresh doc_ids"):
        append_to_index(a, p)


def test_append_is_idempotent_per_batch(spark, split_docs):
    a, b, _ = split_docs
    p = tempfile.mkdtemp(prefix="appendidx3_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    append_to_index(b, p, batch_id="b1")
    n1 = read_index(spark, p).doclen.count()
    append_to_index(b, p, batch_id="b1")  # replay: skipped via lineage
    assert read_index(spark, p).doclen.count() == n1


def test_streamed_index_matches_batch_rebuild(spark, docs, split_docs, tmp_path):
    a, b, c = split_docs
    src = str(tmp_path / "stream_src")
    b.write.parquet(src)  # first file batch
    c.write.mode("append").parquet(src)
    p = str(tmp_path / "idx")
    build_to_path(a, p, CFG, bucket_group_size=8)

    from oni_indexer_spark.streaming import stream_index

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "4").parquet(src)
    )
    q = stream_index(stream, p, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    streamed = read_index(spark, p)
    full = build_index(docs, CFG)
    for qq in QUERIES:
        assert _rows(topk(streamed, qq, k=10)) == _rows(topk(full, qq, k=10)), qq


def test_external_append_invalidates_stale_searcher(spark, docs, split_docs):
    """r3 VERDICT #5: a Searcher NOT reachable by invalidate_searchers
    (simulating another process's handle) must detect an append through
    the lineage-listing staleness guard and serve post-append-exact
    scores without any manual invalidate()."""
    from oni_indexer_spark.query.bm25 import Searcher

    a, b, c = split_docs
    p = tempfile.mkdtemp(prefix="staleidx_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    s = Searcher(read_index(spark, p))  # direct: NOT in the module registry
    _ = _rows(s.topk("the scan", k=10))  # memoize stats/df + lineage sig
    append_to_index(b, p)  # "external" writer: s's caches are now stale
    append_to_index(c, p)
    expect = _rows(topk(build_index(docs, CFG), "the scan", k=10))
    assert _rows(s.topk("the scan", k=10)) == expect


def test_compact_matches_uncompacted(spark, docs, split_docs):
    """r4 VERDICT #1: compaction (the Lucene segment-merge analogue) must
    consolidate files/segments WITHOUT changing a single answer."""
    from oni_indexer_spark.index import compact_index

    a, b, c = split_docs
    p = tempfile.mkdtemp(prefix="compactidx_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    append_to_index(b, p)
    append_to_index(c, p)
    before = read_index(spark, p)
    pre = {q: _rows(topk(before, q, k=10)) for q in QUERIES}
    pre_files = len(before.postings.inputFiles()) + len(before.doclen.inputFiles())
    # boundary blocks split across appends exist pre-compaction
    dup_pre = (
        before.postings.groupBy("tid", "block_id").count().where("count > 1").count()
    )

    metrics = compact_index(p, spark)
    after = read_index(spark, p)
    # answers identical (incl. pruned path — block-max metadata recomputed)
    for q in QUERIES:
        assert _rows(topk(after, q, k=10)) == pre[q], q
        assert _rows(topk(after, q, k=10, prune=True)) == pre[q], q
    # structurally consolidated: one stats row, no split blocks, fewer files
    assert after.stats.count() == 1
    assert (
        after.postings.groupBy("tid", "block_id").count().where("count > 1").count()
        == 0
    )
    post_files = len(after.postings.inputFiles()) + len(after.doclen.inputFiles())
    assert post_files < pre_files, (pre_files, post_files)
    if dup_pre:  # the synthetic split produces boundary dups; pin the merge
        assert metrics["files_after"] < metrics["files_before"]
    # dfreq consolidated to one row per term
    assert after.dfreq.groupBy("term").count().where("count > 1").count() == 0
    # full rebuild equivalence (transitively true, but pin it directly)
    full = build_index(docs, CFG)
    for q in QUERIES:
        assert _rows(topk(after, q, k=10)) == _rows(topk(full, q, k=10)), q


def test_compact_then_append_continues(spark, docs, split_docs):
    """Compaction must leave an index that keeps accepting appends."""
    from oni_indexer_spark.index import compact_index

    a, b, c = split_docs
    p = tempfile.mkdtemp(prefix="compactidx2_") + "/idx"
    build_to_path(a, p, CFG, bucket_group_size=8)
    append_to_index(b, p)
    compact_index(p, spark)
    append_to_index(c, p)
    appended = read_index(spark, p)
    full = build_index(docs, CFG)
    for q in QUERIES:
        assert _rows(topk(appended, q, k=10)) == _rows(topk(full, q, k=10)), q


def test_stream_auto_compaction(spark, docs, split_docs, tmp_path):
    """compact_every: the background-merge policy must fire once enough
    streamed segments accumulate, consolidate them, and leave every
    answer identical to a full rebuild."""
    from oni_indexer_spark.index import lineage as L
    from oni_indexer_spark.streaming import stream_index

    a, b, c = split_docs
    src = str(tmp_path / "stream_src")
    # 1-file micro-batches -> one append segment per file
    for part in (
        b.where(F.col("doc_id") < 350),
        b.where(F.col("doc_id") >= 350),
        c.where(F.col("doc_id") < 450),
        c.where(F.col("doc_id") >= 450),
    ):
        part.coalesce(1).write.mode("append").parquet(src)
    p = str(tmp_path / "idx")
    build_to_path(a, p, CFG, bucket_group_size=8)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index(stream, p, str(tmp_path / "ckpt"), compact_every=2)
    q.awaitTermination(180)

    recs = L.Lineage(spark, p).records()
    compacts = [r for r in recs if r["stage"].startswith("compact_auto")]
    assert len(compacts) >= 2, [r["stage"] for r in recs]
    merged = read_index(spark, p)
    full = build_index(docs, CFG)
    for qq in QUERIES:
        assert _rows(topk(merged, qq, k=10)) == _rows(topk(full, qq, k=10)), qq


def _dfreq_by_term(tables):
    return {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in tables.dfreq.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    }


def _appended_index(docs_a, docs_b, docs_c, prefix):
    p = tempfile.mkdtemp(prefix=prefix) + "/idx"
    build_to_path(docs_a, p, CFG, bucket_group_size=8)
    append_to_index(docs_b, p)
    append_to_index(docs_c, p)
    return p


def test_append_then_delete_matches_rebuild(spark, docs, split_docs):
    """delete_docs after appends, before any compaction: dfreq holds one
    row per segment of a term, and the decrement must apply once per
    term — the result equals a fresh build of the survivors, exact dfreq
    and same top-k."""
    from oni_indexer_spark.index import delete_docs

    p = _appended_index(*split_docs, prefix="appdelidx_")
    gone = [3, 150, 310, 399, 420, 470]
    assert delete_docs(p, spark, doc_ids=gone) == len(gone)
    got = read_index(spark, p)
    fresh = build_index(docs.where(~F.col("doc_id").isin(gone)), CFG)
    assert _dfreq_by_term(got) == _dfreq_by_term(fresh)
    for q in QUERIES:
        assert _rows(topk(got, q, k=10)) == _rows(topk(fresh, q, k=10)), q


def test_append_then_overwrite_matches_rebuild(spark, docs, split_docs):
    """overwrite_docs after appends, before any compaction: the old
    per-segment dfreq rows merge with the increment and decrement once
    per term — the result equals a fresh build of the updated corpus,
    exact dfreq and same top-k."""
    from oni_indexer_spark.index import overwrite_docs

    p = _appended_index(*split_docs, prefix="appovridx_")
    ids = [5, 150, 320, 410, 480]
    changed = docs.where(F.col("doc_id").isin(ids)).withColumn(
        "content", F.concat(F.col("content"), F.lit(" hash overwritemark"))
    )
    overwrite_docs(changed, p)
    got = read_index(spark, p)
    fresh = build_index(
        docs.where(~F.col("doc_id").isin(ids)).unionByName(changed), CFG
    )
    assert _dfreq_by_term(got) == _dfreq_by_term(fresh)
    for q in QUERIES + ["overwritemark hash"]:
        assert _rows(topk(got, q, k=10)) == _rows(topk(fresh, q, k=10)), q
