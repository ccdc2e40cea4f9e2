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
    scatter-added inside the numpy kernel
  - three regimes, chosen from Σ df:
      * empty: an empty LocalRelation (0 jobs);
      * local (Σ df ≤ LOCAL_KERNEL_MAX_POSTINGS): the pruned scan is
        collected as Arrow — its plan has no Python node and no
        Exchange — the kernel and the top-k run on the driver, and the
        result is a LocalRelation. Over an index on disk a small top-k
        runs 0 jobs, also on a fresh Searcher: stats, dfs and the block
        rows are driver reads of the files the tables pinned (only the
        query buckets' files); with those reads off (an in-memory or
        cached index, or one over the gate) it runs exactly 1 job, the
        pruned scan collected as Arrow. Its warm repeat runs none: the
        Searcher memoizes the block rows per term. A compound boolean
        query is local when Σ df over the union of its clause terms fits
        the gate: ONE set of block rows for that union, every clause
        kernel and the MUST/SHOULD/NOT combine on the driver — also 0
        jobs cold (1 with the Spark read), none warm. A small
        constant-score prefix decodes on the driver too;
      * exchange(n) (forced in these tests by zeroing the gate): the
        kernel runs as MapInArrow; a single term never shuffles, a
        multi-term query has exactly ONE exchange — the hash
        repartition of the compressed block rows by block_id — and
        top-k is TakeOrderedAndProject (heap per partition + merge)
"""

import tempfile

import pytest

from oni_indexer_spark.index import IndexConfig, build_to_path, read_index
from oni_indexer_spark.query import topk
from tests.conftest import jobs_run

CFG = IndexConfig(block_size=64, n_buckets=8)


@pytest.fixture(scope="module")
def disk_index(spark, docs):
    p = tempfile.mkdtemp(prefix="planidx_") + "/idx"
    build_to_path(docs, p, CFG, bucket_group_size=8)
    return read_index(spark, p)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _is_local(df) -> bool:
    return df._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")


def _assert_pruned_scan(plan: str) -> None:
    assert "PartitionFilters: [bucket" in plan
    assert "PushedFilters: [In(tid" in plan
    # v4 blobs store doc/dl relative to per-block bases, so the scan
    # also reads the two small base ints (block_id, block_min_dl) —
    # still no doclen/dfreq columns, no metadata beyond the bases
    assert "ReadSchema: struct<tid:bigint,block_id:bigint,block_min_dl:int,blob:binary>" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_query_plan_shape(disk_index, collected_scans):
    """Local regime: the one collected scan is the pruned 4-column scan
    with no Python node and no shuffle; scoring and top-k ran on the
    driver, so the result is a LocalRelation."""
    df = topk(disk_index, "hash join", k=10, prune=False)
    assert _is_local(df)
    assert "LocalTableScan" in _plan(df)
    (scan,) = collected_scans
    _assert_pruned_scan(scan)
    assert scan.count("Exchange") == 0
    assert "Python" not in scan and "MapInArrow" not in scan
    assert "HashAggregate" not in scan


def test_query_plan_shape_above_coalesce_gate(disk_index, exchange_regime):
    """Above the local gate the multi-term path keeps its ONE exchange
    of compressed block rows (the scale shape — forced here by zeroing
    the gate); per-doc totals are scatter-added inside the Arrow worker,
    so there is NO JVM hash aggregate and no decoded-row shuffle."""
    plan = _plan(topk(disk_index, "hash join", k=10, prune=False))
    _assert_pruned_scan(plan)
    assert plan.count("Exchange") == 1
    # tiny fixture derives width 1 → SinglePartition; at scale the same
    # exchange prints hashpartitioning(block_id, n)
    assert "hashpartitioning(block_id" in plan or "SinglePartition" in plan
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan


def test_small_topk_runs_one_job(spark, disk_index, spark_reads):
    """With the driver reads off, a small top-k on a fresh Searcher
    whose stats and dfs are known is exactly one Spark job — the scan
    collect; scoring, ranking and the collect of the LocalRelation run
    none. Its warm repeat finds the block rows memoized and runs no job
    at all."""
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(disk_index)
    s.stats(), s.term_dfs(["hash", "join"])  # corpus stats and dfs only
    first, jobs = jobs_run(spark, lambda: s.topk("hash join", k=10).collect())
    assert first
    assert jobs == 1
    again, jobs = jobs_run(spark, lambda: s.topk("hash join", k=10).collect())
    assert again == first
    assert jobs == 0


def test_small_boolean_search_runs_one_job(spark, docs, disk_index, spark_reads):
    """With the driver reads off, a small compound boolean query (MUST +
    NOT + SHOULD + a selective filter) on a fresh Searcher whose stats,
    dfs and fq doc set are known is exactly one Spark job: the collected
    scan of its clause terms' union. The clause kernels, the combine,
    the ranking and the collect of the LocalRelation run none; the warm
    repeat runs no job."""
    from oni_indexer_spark.query.bm25 import Searcher

    lang = docs.select("lang").first()["lang"]
    q = f"+hash -window merge lang:{lang}"
    s = Searcher(disk_index)
    s.stats(), s.term_dfs(["hash", "window", "merge"]), s._fq_docs({"lang": lang})
    first, jobs = jobs_run(spark, lambda: s.search(q, k=10).collect())
    assert first
    assert jobs == 1
    again, jobs = jobs_run(spark, lambda: s.search(q, k=10).collect())
    assert again == first
    assert jobs == 0


def test_cold_small_topk_runs_no_job(spark, disk_index):
    """A small top-k on a fresh Searcher with nothing warmed runs no
    Spark job: corpus stats, term dfs and the block rows are read on the
    driver from the stats/dfreq/postings files the tables pinned."""
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(disk_index)
    rows, jobs = jobs_run(spark, lambda: s.topk("hash join", k=10).collect())
    assert rows
    assert jobs == 0


def test_cold_small_boolean_search_runs_no_job(spark, disk_index):
    """A small compound boolean query without fq on a fresh Searcher
    with nothing warmed runs no Spark job: the block rows of its clause
    terms' union are one driver read."""
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(disk_index)
    rows, jobs = jobs_run(spark, lambda: s.search("+hash -window merge", k=10).collect())
    assert rows
    assert jobs == 0


def test_driver_postings_read_pins(spark, disk_index, monkeypatch):
    """The driver read of a cold small top-k reads exactly the pinned
    postings files of the query terms' buckets and runs no job."""
    from oni_indexer_spark import fsio
    from oni_indexer_spark.query.bm25 import Searcher, _buckets_for

    reads = []
    read_files = fsio.Fs.read_files

    def spy(self, uris, max_bytes):
        reads.extend(uris)
        return read_files(self, uris, max_bytes)

    monkeypatch.setattr(fsio.Fs, "read_files", spy)
    s = Searcher(disk_index)
    rows, jobs = jobs_run(spark, lambda: s.topk("hash join", k=10).collect())
    assert rows and jobs == 0
    buckets = {f"bucket={b}" for b in _buckets_for(disk_index, ["hash", "join"])}
    pinned = disk_index.postings.inputFiles()
    want = sorted(f for f in pinned if buckets.intersection(f.split("/")))
    assert 0 < len(want) < len(pinned)
    assert sorted(f for f in reads if "/postings/" in f) == want


def test_cold_prefix_topk_jobs(spark, disk_index):
    """A cold ``prefix_topk("s")`` runs 2 jobs: its dictionary
    expansion still scans dfreq with Spark (an aggregate and its
    TakeOrdered). Its corpus stats and block rows are driver reads."""
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(disk_index)
    rows, jobs = jobs_run(spark, lambda: s.prefix_topk("s", k=10).collect())
    assert rows
    assert jobs == 2


def test_warm_prefix_topk_runs_no_job(spark, disk_index):
    """A warm ``prefix_topk("s")`` finds its expansion and its block
    rows memoized on the Searcher: no dictionary job, no scan job."""
    from oni_indexer_spark.query.bm25 import Searcher

    s = Searcher(disk_index)
    first = s.prefix_topk("s", k=10).collect()
    again, jobs = jobs_run(spark, lambda: s.prefix_topk("s", k=10).collect())
    assert first and again == first
    assert jobs == 0


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


def test_single_term_fastpath_no_exchange(disk_index, collected_scans, monkeypatch):
    """Single-term queries score + candidate-select inside the decoder
    (per-posting score == per-doc score), so the plan has NO shuffle at
    all — local: one pruned scan collected, a LocalRelation result;
    exchange: scan → mapInArrow → TakeOrderedAndProject."""
    from oni_indexer_spark.query import bm25

    df = topk(disk_index, "hash", k=10, prune=False)
    assert _is_local(df)
    (scan,) = collected_scans
    # one term, one bucket: the pruning filters are equalities
    assert "PartitionFilters: [isnotnull(bucket" in scan and "EqualTo(tid" in scan
    assert "Exchange" not in scan and "Python" not in scan

    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
    plan = _plan(topk(disk_index, "hash", k=10, prune=False))
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan


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


def test_single_term_clause_scores_no_aggregate(disk_index, collected_scans, monkeypatch):
    """A single-term boolean clause (k=None: every matching doc's score
    leaves the kernel) runs the single-term kernel, not a JVM hash
    aggregate over decoded rows — in both regimes."""
    from oni_indexer_spark.query import bm25

    import pyarrow as pa

    s = bm25.searcher_for(disk_index)
    df = s._clause_scores(s.term_dfs(["hash"]))
    assert isinstance(df, pa.Table)  # the local regime's driver result
    (scan,) = collected_scans
    assert "HashAggregate" not in scan and "Exchange" not in scan
    assert "Python" not in scan

    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
    plan = _plan(s._clause_scores(s.term_dfs(["hash"])))
    assert "MapInArrow" in plan
    assert "HashAggregate" not in plan
    assert "Exchange" not in plan


def test_constant_score_prefix_bounded_decode(disk_index, collected_scans, monkeypatch):
    """The constant-score rewrite must bound the decode to the k lowest
    matching block_ids instead of decoding the full union — the
    8.6s-at-1M lesson. Local regime: one collected pruned scan (no
    Python node), the bound and the decode on the driver, a
    LocalRelation result. Exchange regime: a broadcast LeftSemi on
    block_id feeding the decode, no unbounded HashAggregate before it."""
    from oni_indexer_spark.query import bm25

    s = bm25.searcher_for(disk_index)
    df = s.prefix_topk("s", k=10, rewrite="constant")
    assert _is_local(df)
    (scan,) = collected_scans
    assert "PartitionFilters: [bucket" in scan and "PushedFilters: [In(tid" in scan
    assert "Python" not in scan and "Exchange" not in scan

    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
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


def test_synonym_plan_shape(disk_index, collected_scans, monkeypatch):
    """SynonymQuery rides the same block-aligned plan as plain
    multi-term: scan pruned by bucket dir + In(tid), scatter-add inside
    the kernel, no JVM aggregate. At this tiny scale the local regime
    applies (one collected scan, no shuffle, a LocalRelation result);
    with the gate zeroed it is ONE block_id exchange under MapInArrow
    (and _ranked's TakeOrdered on top)."""
    from oni_indexer_spark.query import bm25
    from oni_indexer_spark.query.synonyms import synonym_topk

    df = synonym_topk(disk_index, [["join", "merge"], "hash"], k=10)
    assert _is_local(df)
    (scan,) = collected_scans
    assert "PartitionFilters: [bucket" in scan
    assert "PushedFilters: [In(tid" in scan
    assert "SortMergeJoin" not in scan and "BroadcastHashJoin" not in scan
    assert scan.count("Exchange") == 0
    assert "HashAggregate" not in scan
    assert "Python" not in scan

    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
    plan = _plan(synonym_topk(disk_index, [["join", "merge"], "hash"], k=10))
    assert "PartitionFilters: [bucket" in plan
    assert "PushedFilters: [In(tid" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") == 1
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" not in plan
    assert "MapInArrow" in plan


@pytest.fixture(scope="module")
def pos_index(docs):
    from oni_indexer_spark.index import build_index

    return build_index(docs, IndexConfig(block_size=64, n_buckets=8, positions=True))


def test_local_and_exchange_regimes_agree(spark, docs, pos_index, monkeypatch):
    """Every kernel call site returns the same rows and scores whether
    its kernel runs on the driver or in Spark tasks, and a warm repeat
    of the local pass (its block rows memoized) returns the first
    pass's rows with bit-identical scores."""
    from oni_indexer_spark.query import (
        facet_query,
        prefix_topk,
        search,
        synonym_topk,
    )
    from oni_indexer_spark.query import bm25

    lang = docs.select("lang").first()["lang"]
    cases = {
        "or": lambda t: topk(t, "hash join merge", k=10),
        "and": lambda t: topk(t, "hash join", k=10, mode="and"),
        "fq": lambda t: topk(t, "hash join", k=10, fq={"lang": lang}),
        "phrase": lambda t: topk(t, "hash join", k=10, mode="phrase"),
        "synonym": lambda t: synonym_topk(t, [["join", "merge"], "hash"], k=10),
        "facet": lambda t: facet_query(
            t, "hash join", {"m": "merge", "ss": "scan sort", "w": "window"}),
        "boolean": lambda t: search(t, f"+hash -window merge lang:{lang}", k=10),
        "must_phrase_should_prefix": lambda t: search(t, '+"hash join" sc*', k=10),
        "not_fuzzy": lambda t: search(t, "hash join -merge~1", k=10),
        "kitchen_sink": lambda t: search(
            t, f'+the +scan -sort "hash join" window~1 merge* lang:{lang}', k=10),
        "not_removes_all": lambda t: search(t, "+hash -hash join", k=10),
        "prefix": lambda t: prefix_topk(t, "s", k=10, rewrite="scoring"),
        "constant": lambda t: prefix_topk(t, "s", k=10, rewrite="constant"),
        "constant_fq": lambda t: prefix_topk(
            t, "s", k=10, rewrite="constant", fq={"lang": lang}),
    }
    empty = {"not_removes_all"}

    def answers(fresh=True):
        # a fresh Searcher per regime: nothing memoized crosses over
        if fresh:
            bm25._SEARCHERS.clear()
        return {name: [tuple(r) for r in q(pos_index).collect()] for name, q in cases.items()}

    local = answers()
    # the same Searcher again: every block row and expansion memoized,
    # and every answer bit-identical to the first
    warm_before = bm25.searcher_for(pos_index).cache_info()
    assert answers(fresh=False) == local
    warm_after = bm25.searcher_for(pos_index).cache_info()
    assert warm_after.misses == warm_before.misses
    assert warm_after.hits > warm_before.hits
    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
    exchange = answers()
    for name in cases:
        assert bool(local[name]) == (name not in empty), name
        assert len(local[name]) == len(exchange[name]), name
        for a, b in zip(local[name], exchange[name]):
            assert a[:-1] == b[:-1], name
            assert a[-1] == pytest.approx(b[-1], abs=1e-9), name
