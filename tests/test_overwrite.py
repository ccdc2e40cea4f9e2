"""C11 same-id overwrite (index/build.overwrite_docs): after re-indexing
changed docs, every query answers EXACTLY like a fresh build over the
updated corpus — postings, dfreq, doclen sha256 and stats all corrected —
and only the affected seg directories were rewritten."""

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

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
from oni_indexer_spark.query import topk

# tiny segs so a 256-doc corpus spans several: seg_docs = 16*4 = 64
CFG = IndexConfig(block_size=16, n_buckets=4, seg_blocks=4)
# the segs holding the fixture's overwritten docs 0 and 200
AFFECTED_SEGS = sorted({i // CFG.seg_docs for i in range(0, 256, 200)})


def _corpus(spark, marker=""):
    rows = []
    for i in range(256):
        body = f"alpha tok_{i} beta_{i % 7} gamma"
        if i % 200 == 0 and marker:
            body = f"{body} {marker}"
        rows.append((i, f"r{i % 3}", f"p/{i}", f"c{i}", "python", body))
    return spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, lang string, content string"
    )


def _rows(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def _assert_one_layout(spark, p, segs):
    """The layout every segment rewrite leaves: one data file in each
    rewritten postings (bucket, seg) and doclen seg directory, and one
    stats row."""
    dirs = [d for s in segs for d in glob.glob(f"{p}/postings/bucket=*/seg={s}")]
    assert dirs, segs
    for d in dirs + [f"{p}/doclen/seg={s}" for s in segs]:
        assert len([f for f in os.listdir(d) if f.startswith("part-")]) == 1, d
    assert read_index(spark, p).stats.count() == 1


@pytest.fixture(scope="module")
def paths(spark):
    base = tempfile.mkdtemp(prefix="ovr_")
    p = f"{base}/idx"
    build_to_path(_corpus(spark), p, CFG, bucket_group_size=4)
    changed = _corpus(spark, marker="needle_mark").where(F.col("doc_id") % 200 == 0)
    # capture pre-state of an UNaffected seg dir for the amplification check
    untouched = next(s for s in range(256 // CFG.seg_docs) if s not in AFFECTED_SEGS)
    d = f"{p}/doclen/seg={untouched}"
    before = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
    overwrite_docs(changed, p)
    return p, untouched, before


def test_queries_match_fresh_build(spark, paths):
    p, _, _ = paths
    disk = read_index(spark, p)
    fresh = build_index(_corpus(spark, marker="needle_mark"), CFG)
    for q, k in [("needle_mark", 10), ("alpha", 5), ("gamma needle_mark", 10), ("tok_100", 3)]:
        assert _rows(topk(disk, q, k=k)) == _rows(topk(fresh, q, k=k)), q


def test_dfreq_and_stats_exact(spark, paths):
    p, _, _ = paths
    disk = read_index(spark, p)
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in disk.dfreq.where(F.col("term").isin("needle_mark", "alpha")).collect()
    }
    assert got["needle_mark"] == (2, 2)  # docs 0, 200
    assert got["alpha"] == (256, 256)
    srows = disk.stats.collect()
    n = sum(int(r["n_docs"]) for r in srows)
    assert n == 256  # +2 new, -2 removed
    # sha256 updated for a changed doc
    sha = disk.doclen.where(F.col("doc_id") == 200).select("content_sha256").collect()
    import hashlib

    assert sha[0][0] == hashlib.sha256(
        b"alpha tok_200 beta_4 gamma needle_mark"
    ).hexdigest()


def test_rewritten_segs_one_layout(spark, paths):
    p, _, _ = paths
    _assert_one_layout(spark, p, AFFECTED_SEGS)


def test_unaffected_segs_not_rewritten(paths):
    p, untouched, before = paths
    d = f"{p}/doclen/seg={untouched}"
    after = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
    assert before == after


def test_overwrite_idempotent_on_replay(spark, paths):
    p, _, _ = paths
    changed = _corpus(spark, marker="needle_mark").where(F.col("doc_id") % 200 == 0)
    overwrite_docs(changed, p)  # same batch: lineage row says done -> no-op
    disk = read_index(spark, p)
    assert disk.stats.agg(F.sum("n_docs")).collect()[0][0] == 256


@pytest.mark.parametrize("mutator", ["overwrite", "delete", "compact"])
def test_crash_after_stage_self_heals(spark, mutator):
    """Crash-injection: each segment rewrite dies right after the swap
    manifest is written (nothing swapped yet), on an index with one
    append (so compact has segments to merge). read_index replays the
    pending swap and the index answers exactly like a fresh build over
    the resulting corpus — no restore from source needed."""
    base = tempfile.mkdtemp(prefix=f"crash_{mutator}_")
    p = f"{base}/idx"
    corpus = _corpus(spark)
    build_to_path(corpus.where(F.col("doc_id") < 192), p, CFG, bucket_group_size=4)
    append_to_index(corpus.where(F.col("doc_id") >= 192), p)
    after = corpus
    with pytest.raises(RuntimeError, match="injected crash"):
        if mutator == "overwrite":
            after = _corpus(spark, marker="crash_mark")
            changed = after.where(F.col("doc_id") % 200 == 0)
            overwrite_docs(changed, p, _fault_after_stage=True)
        elif mutator == "delete":
            after = corpus.where(~F.col("doc_id").isin(1, 2, 3, 200))
            delete_docs(p, spark, doc_ids=[1, 2, 3, 200], _fault_after_stage=True)
        else:
            compact_index(p, spark, _fault_after_stage=True)
    man = f"{p}/_pending_swap.json"
    with open(man) as fh:
        assert json.load(fh)["moves"]  # staged dirs recorded before any mutation
    disk = read_index(spark, p)  # replays the swap
    assert not os.path.exists(man)
    assert not os.path.exists(f"{p}/postings.next")
    fresh = build_index(after, CFG)
    for q in ["crash_mark", "alpha", "tok_1 tok_100", "gamma beta_3"]:
        assert _rows(topk(disk, q, k=10)) == _rows(topk(fresh, q, k=10)), q
    shutil.rmtree(base, ignore_errors=True)


def test_replay_appends_staged_stats_rows(spark):
    """A swap manifest that says ``stats_mode: append`` (an earlier
    engine's overwrite/delete staged signed correction rows) may still be
    pending when this engine opens the index: the replay adds the staged
    rows to stats instead of replacing it."""
    base = tempfile.mkdtemp(prefix="ovr_stats_append_")
    p = f"{base}/idx"
    build_to_path(_corpus(spark), p, CFG, bucket_group_size=4)
    live = [tuple(r) for r in read_index(spark, p).stats.collect()]
    spark.createDataFrame([(-1, 5.0)], "n_docs long, avgdl double").coalesce(
        1
    ).write.parquet(f"{p}/stats.next")
    man = f"{p}/_pending_swap.json"
    with open(man, "w") as fh:
        json.dump({"moves": [], "deletes": [], "stats_mode": "append"}, fh)
    disk = read_index(spark, p)  # replays the swap
    assert not os.path.exists(man)
    assert not os.path.exists(f"{p}/stats.next")
    assert sorted(tuple(r) for r in disk.stats.collect()) == sorted(live + [(-1, 5.0)])
    shutil.rmtree(base, ignore_errors=True)


def test_crash_mid_swap_replay_idempotent(spark):
    """Crash-injection mid-swap: some manifest steps already applied
    (a target dir deleted, one staged dir already renamed). Replaying the
    manifest must not delete swapped-in data or double-apply anything."""
    from oni_indexer_spark.index.build import _apply_swap, _fs_for

    base = tempfile.mkdtemp(prefix="ovr_crash2_")
    p = f"{base}/idx"
    build_to_path(_corpus(spark), p, CFG, bucket_group_size=4)
    changed = _corpus(spark, marker="crash_mark2").where(F.col("doc_id") % 200 == 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        overwrite_docs(changed, p, _fault_after_stage=True)
    with open(f"{p}/_pending_swap.json") as fh:
        m = json.load(fh)
    # simulate a partially-applied swap: first delete done, first move done
    if m["deletes"]:
        shutil.rmtree(os.path.join(p, m["deletes"][0]), ignore_errors=True)
    staged_rel, live_rel = m["moves"][0]
    shutil.rmtree(os.path.join(p, live_rel), ignore_errors=True)
    os.rename(os.path.join(p, staged_rel), os.path.join(p, live_rel))
    _apply_swap(p, _fs_for(p, spark))  # replay the whole manifest
    disk = read_index(spark, p)
    fresh = build_index(_corpus(spark, marker="crash_mark2"), CFG)
    for q in ["crash_mark2", "gamma crash_mark2", "alpha"]:
        assert _rows(topk(disk, q, k=10)) == _rows(topk(fresh, q, k=10)), q
    shutil.rmtree(base, ignore_errors=True)


def test_mutators_reject_old_format(spark):
    """ADVICE r2: append/overwrite into a v1/v2-format index must fail
    loudly instead of writing v3-layout files into an old layout."""
    base = tempfile.mkdtemp(prefix="ovr_fmt_")
    p = f"{base}/idx"
    build_to_path(_corpus(spark), p, CFG, bucket_group_size=4)
    meta_path = f"{p}/_lineage/meta.json"
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["format"] = 2
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    extra = _corpus(spark).where(F.col("doc_id") < 2).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    from oni_indexer_spark.index import append_to_index

    with pytest.raises(ValueError, match="on-disk format v2"):
        append_to_index(extra, p)
    with pytest.raises(ValueError, match="on-disk format v2"):
        overwrite_docs(_corpus(spark).where(F.col("doc_id") == 0), p)
    # the removed uncompressed layout: refused with a rebuild message
    meta["format"] = 4
    meta["compress"] = False
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="compress=false.*build_to_path"):
        read_index(spark, p)
    with pytest.raises(ValueError, match="compress=false.*build_to_path"):
        append_to_index(extra, p)
    shutil.rmtree(base, ignore_errors=True)


# ----------------------------------------------------- delete-by-query

def test_delete_docs_matches_filtered_oracle(spark, docs, tmp_path):
    """delete by ids + by fq; queries must answer exactly as a fresh
    build over the remaining corpus (stale postings / dfreq / stats
    would hash-mismatch)."""
    import duckdb

    from oni_indexer_spark.index import (
        IndexConfig,
        build_to_path,
        delete_docs,
        read_index,
    )
    from oni_indexer_spark.oracle import bm25_topk_sql
    from oni_indexer_spark.query import topk
    from tests.conftest import SF_SMOKE

    p = str(tmp_path / "delidx")
    build_to_path(docs, p, IndexConfig(block_size=64, n_buckets=8),
                  bucket_group_size=8, resume=False)
    assert delete_docs(p, spark, doc_ids=list(range(10))) == 10
    n_fr = delete_docs(p, spark, fq={"lang": "fr"}, batch_id="fr")
    assert n_fr > 0
    # idempotent: nothing matches anymore, so the replay is a no-op
    assert delete_docs(p, spark, fq={"lang": "fr"}, batch_id="fr") == 0

    t = read_index(spark, p)
    got = [(r["rank"], r["doc_id"], round(r["score"], 6))
           for r in topk(t, "hash join", k=10).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet' "
        f"WHERE doc_id >= 10 AND lang <> 'fr'"
    )
    exp = [(r[0], r[1], round(r[2], 6))
           for r in con.execute(bm25_topk_sql("hash join", k=10)).fetchall()]
    assert got == exp
    # stats correction: n_docs equals the surviving corpus
    from oni_indexer_spark.query.bm25 import searcher_for

    n_docs, _ = searcher_for(t).stats()
    assert n_docs == 500 - 10 - n_fr
    _assert_one_layout(spark, p, [0])  # one seg holds the whole corpus


def test_delete_docs_requires_predicate(spark, docs, tmp_path):
    import pytest as _pytest

    from oni_indexer_spark.index import IndexConfig, build_to_path, delete_docs

    p = str(tmp_path / "delreq")
    build_to_path(docs, p, IndexConfig(block_size=64, n_buckets=8),
                  bucket_group_size=8, resume=False)
    with _pytest.raises(ValueError):
        delete_docs(p, spark)
    assert delete_docs(p, spark, doc_ids=[999999]) == 0  # no-op on absent ids
