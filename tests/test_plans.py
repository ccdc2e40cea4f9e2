"""Physical-plan audits: the properties that make the engine survive a
100x scale-up must be visible in `.explain` and must not regress.

Query plan contract (query/bm25.py docstring):
  - postings scan is directory-pruned (PartitionFilters on bucket) and
    row-group-pruned (PushedFilters In(tid, ...)), reading ONLY
    (tid, block_id, block_min_dl, blob) — no block metadata beyond the
    two decode bases unless pruning needs it
  - idf enters as a literal map: NO join against dfreq
  - dl travels inside postings: NO join against doclen
  - no JVM hash aggregate and no decoded-row shuffle: per-doc totals are
    scatter-added inside the Arrow worker (MapInArrow)
  - shuffles depend on the query's size: a single term never shuffles;
    a multi-term query has ZERO exchanges below the coalesce crossover
    (coalesce(1) co-locates its blocks) and exactly ONE exchange above
    it — the hash repartition of the compressed block rows by block_id
  - top-k is TakeOrderedAndProject (heap per partition + merge)
"""

import tempfile

import pytest

from oni_indexer_spark.index import IndexConfig, build_to_path, read_index
from oni_indexer_spark.query import topk

CFG = IndexConfig(block_size=64, n_buckets=8)


@pytest.fixture(scope="module")
def disk_index(spark, docs):
    p = tempfile.mkdtemp(prefix="planidx_") + "/idx"
    build_to_path(docs, p, CFG, bucket_group_size=8)
    return read_index(spark, p)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_plan_shape(disk_index):
    plan = _plan(topk(disk_index, "hash join", k=10, prune=False))
    assert "PartitionFilters: [bucket" in plan
    assert "PushedFilters: [In(tid" in plan
    # v4 blobs store doc/dl relative to per-block bases, so the scan
    # also reads the two small base ints (block_id, block_min_dl) —
    # still no doclen/dfreq columns, no metadata beyond the bases
    assert "ReadSchema: struct<tid:bigint,block_id:bigint,block_min_dl:int,blob:binary>" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # block-aligned multi-term path, tiny-query crossover (r6): below
    # the coalesce gates the block_id exchange is replaced by a
    # single-task Coalesce — ZERO shuffles; per-doc totals are
    # scatter-added inside the Arrow worker, so there is NO JVM hash
    # aggregate and no decoded-row shuffle either
    assert plan.count("Exchange") == 0
    assert "Coalesce 1" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan


def test_query_plan_shape_above_coalesce_gate(disk_index, monkeypatch):
    """Above the coalesce crossover the multi-term path keeps its ONE
    exchange of compressed block rows (the scale shape — forced here by
    zeroing the gate)."""
    from oni_indexer_spark.query import bm25

    monkeypatch.setattr(bm25, "SCORER_COALESCE_MAX_POSTINGS", 0)
    plan = _plan(topk(disk_index, "hash join", k=10, prune=False))
    assert plan.count("Exchange") == 1
    # tiny fixture derives width 1 → SinglePartition; at scale the same
    # exchange prints hashpartitioning(block_id, n)
    assert "hashpartitioning(block_id" in plan or "SinglePartition" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan


def test_build_pushes_column_pruning(spark, docs):
    """The tf stage must read only doc_id+content from the corpus scan."""
    from oni_indexer_spark.index.build import _tf_table

    plan = _plan(_tf_table(docs.select("doc_id", "content"), CFG))
    assert "Exchange" in plan  # the one shuffle: groupBy(term, doc_id)
    # partial aggregation before the exchange (map-side combine)
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_facet_plan_partial_agg(spark, docs):
    from oni_indexer_spark.query import facet_counts

    plan = _plan(facet_counts(docs, "lang"))
    assert "partial_count" in plan or plan.index("HashAggregate") < plan.index("Exchange")


def test_doclen_plan_has_no_second_tokenize(spark, docs):
    """Single-tokenize build: doclen derives dl from the staged tf table,
    so its plan must contain NO regex tokenizer — only the sha256/meta
    content scan plus the O(n_docs) dl join."""
    from oni_indexer_spark.index.build import _doclen_from_tf, _tf_table

    d = docs.select("doc_id", "repo", "path", "lang", "content")
    tf = _tf_table(d, CFG)
    plan = _plan(_doclen_from_tf(d, tf, CFG))
    # in the real build, tf is materialized (parquet stage / persist); in
    # this lazy plan the tokenizer still shows inside the tf SUBTREE (the
    # join's build side), but doclen's own branch — the ':'-prefixed
    # stream side of the join — must not re-run it
    doclen_branch = [ln for ln in plan.splitlines() if ln.lstrip().startswith(":")]
    assert doclen_branch, plan
    assert not any("regexp_extract_all" in ln for ln in doclen_branch), plan
    assert any("sha2" in ln for ln in doclen_branch)


def test_resolve_via_no_unconditional_broadcast(spark):
    """AQE (not a hard-coded hint) picks the join strategy for the
    items-derived display lookup — an unconditional broadcast would OOM
    when items is corpus-sized (r2 VERDICT 'what's wrong' #1)."""
    from oni_indexer_spark.etl import fixture, ops

    items = fixture.spark_items(spark)
    edges = fixture.spark_edges(spark)
    out = ops.resolve_via(items, edges, ["conviction", "location"], "loc", broadcast=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan or "broadcast" not in plan.lower().split("resolvedhint")[1][:80]
    # and the forced-broadcast escape hatch still exists for tiny dims
    out_b = ops.resolve_via(items, edges, ["conviction"], "loc", broadcast=True)
    plan_b = out_b._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_b.lower()


def test_single_term_fastpath_no_exchange(disk_index):
    """Single-term queries score + candidate-select inside the decoder
    (per-posting score == per-doc score), so the plan has NO shuffle at
    all — scan → mapInArrow → TakeOrderedAndProject."""
    plan = _plan(topk(disk_index, "hash", k=10, prune=False))
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" not in plan


def test_single_term_fastpath_matches_oracle(spark, disk_index):
    """The single-term kernel is rank- and score-exact vs the DuckDB
    oracle, for hot, mid and rare terms."""
    import duckdb

    from oni_indexer_spark.oracle import bm25_topk_sql
    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    for t in ["hash", "the", "scan"]:
        got = [
            (r[0], r[1], round(r[2], 6))
            for r in topk(disk_index, t, k=10, prune=False).collect()
        ]
        exp = [
            (r[0], r[1], round(r[2], 6))
            for r in con.execute(bm25_topk_sql(t, k=10)).fetchall()
        ]
        assert got, t
        assert [g[:2] for g in got] == [e[:2] for e in exp], t
        for g, e in zip(got, exp):
            assert abs(g[2] - e[2]) < 1e-6, t


def test_single_term_clause_scores_no_aggregate(disk_index):
    """A single-term boolean clause (k=None: every matching doc's score
    leaves the workers) runs the single-term kernel, not a JVM hash
    aggregate over decoded rows."""
    from oni_indexer_spark.query.bm25 import searcher_for

    s = searcher_for(disk_index)
    plan = _plan(s._clause_scores(s.term_dfs(["hash"])))
    assert "MapInArrow" in plan
    assert "HashAggregate" not in plan
    assert "Exchange" not in plan


def test_constant_score_prefix_bounded_decode(disk_index):
    """The constant-score rewrite must bound the decode to the k lowest
    matching block_ids (broadcast semi-join on blocks) instead of
    decoding the full union — the 8.6s-at-1M lesson. Shape: a broadcast
    LeftSemi on block_id feeding the decode, no unbounded HashAggregate
    before it."""
    from oni_indexer_spark.query.bm25 import searcher_for

    s = searcher_for(disk_index)
    plan = _plan(s.prefix_topk("s", k=10, rewrite="constant"))
    assert "BroadcastHashJoin [block_id" in plan and "LeftSemi" in plan
    # both top-ks are docid-ordered TakeOrdereds (k blocks, then k docs) —
    # no scored heap, no score column before the final constant Project
    assert "orderBy=[doc_id" in plan and "orderBy=[block_id" in plan


def test_cursor_page_keyset_before_takeordered(disk_index):
    """Cursor paging must FILTER on the keyset predicate before the
    TakeOrdered — deep page N costs page 1. The filter shows up as the
    round(score)/dl comparison under the top-k, never an offset-sized
    window."""
    from oni_indexer_spark.query import page

    df = page(disk_index, "hash join", rows=10, sort=[("dl", "desc")],
              cursor=(50, 1000))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # the keyset predicate on the sort keys is a plain Filter
    assert "Filter" in plan and "dl" in plan
    # no global Sort materializing the full match set
    assert plan.count("Sort [") <= 2  # window-local sorts only


def test_group_topk_single_group_shuffle(disk_index):
    """The heads branch (group cap) and the members branch both consume
    the same gk shuffle — AQE must REUSE that exchange in the final
    adaptive plan (one scan + one match-set shuffle, not two), and the
    group cap must come back as a broadcast, never an all-rows join."""
    from oni_indexer_spark.query import group_topk

    df = group_topk(disk_index, "hash join", "repo",
                    k_groups=5, docs_per_group=3)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan  # heads reuse the members' gk shuffle
    assert "BroadcastHashJoin [gk" in plan


def test_synonym_plan_shape(disk_index):
    """SynonymQuery rides the same block-aligned plan as plain
    multi-term: scan pruned by bucket dir + In(tid), scatter-add inside
    the Arrow worker, no JVM aggregate; at this tiny scale the coalesce
    crossover applies (no shuffle at all). (_ranked adds its TakeOrdered
    on top.)"""
    from oni_indexer_spark.query.synonyms import synonym_topk

    plan = _plan(synonym_topk(disk_index, [["join", "merge"], "hash"], k=10))
    assert "PartitionFilters: [bucket" in plan
    assert "PushedFilters: [In(tid" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") == 0
    assert "Coalesce 1" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan
