"""Lucene-lite boolean query strings (Searcher.search) vs the DuckDB
oracle twin (oracle.boolean_query_sql) — both sides share the SAME
``query/parser.parse_query``, so a green row proves the clause
compositor (MUST join / SHOULD union-sum / MUST_NOT anti-join / filter
semantics), not just the parse.

This is the Solr portal's actual input surface: the reference forwards
the portal query box to Solr's lucene parser over ``main_search``
(``portal_base.json:18-23``).
"""

import duckdb
import pytest

from oni_indexer_spark.index import IndexConfig, build_index
from oni_indexer_spark.oracle import boolean_query_sql
from oni_indexer_spark.query import search
from oni_indexer_spark.query.parser import Clause, parse_query
from tests.conftest import SF_SMOKE

CFG = IndexConfig(block_size=64, n_buckets=8, positions=True)


def _oracle_rows(sql):
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


@pytest.fixture(scope="module")
def btables(docs):
    t = build_index(docs, CFG)
    t.postings.cache().count()
    t.dfreq.cache().count()
    return t


# ------------------------------------------------------------ parser

def test_parse_occur_and_kinds():
    pq = parse_query('+hash -scan join "merge sort"~2 snake* fix~1')
    assert pq.clauses == (
        Clause("term", "must", "hash"),
        Clause("term", "not", "scan"),
        Clause("term", "should", "join"),
        Clause("phrase", "should", "merge sort", 2),
        Clause("prefix", "should", "snake"),
        Clause("fuzzy", "should", "fix", 1),
    )


def test_parse_keywords_and_filters():
    pq = parse_query("hash AND join NOT scan lang:en -repo:x dl:[5 TO 100]")
    assert [c.occur for c in pq.clauses] == ["must", "must", "not"]
    assert pq.filters == {
        "lang": "en",
        "repo": ("neq", "x"),
        "dl": ("range", 5, 100),
    }


def test_parse_same_field_filters_merge():
    pq = parse_query("x dl:7 dl:[5 TO 100]")
    assert pq.filters == {"dl": ("all", (7, ("range", 5, 100)))}


def test_parse_bare_fuzzy_defaults_to_two_edits():
    pq = parse_query("merge~")
    assert pq.clauses == (Clause("fuzzy", "should", "merge", 2),)
    assert parse_query("merge~0").clauses == (Clause("term", "should", "merge"),)


@pytest.mark.parametrize("bad", ["(a b)", "-only", "NOT x", "-dl:[1 TO 2] x", "lang:en"])
def test_parse_rejects(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


# --------------------------------------------------- engine vs oracle

BOOLEAN_QUERIES = [
    "hash join",                       # plain OR (fast path)
    "+hash +join",                     # pure MUST (AND fast path)
    "hash AND join",                   # keyword sugar
    "+hash join merge",                # MUST + SHOULD compositor
    "+hash -scan join",                # MUST + NOT + SHOULD
    '"merge sort" hash',               # phrase + term
    '+"merge sort" hash',              # MUST phrase
    'hash -"merge sort"',              # NOT phrase
    '"hash join"~2 merge',             # sloppy phrase clause
    "snake* merge",                    # prefix expansion clause
    "+merge~1 hash",                   # MUST fuzzy
    "-snake* merge hash",              # NOT prefix
    "hash join lang:en",               # filter
    "+hash join dl:[3 TO 400] -lang:fr",
    "hash hash join",                  # duplicate SHOULD term → weight 2
    "+hash +hash join",                # duplicate MUST term
    "NOT scan hash join",
    "zzz_missing hash",                # absent SHOULD term drops out
    "+zzz_missing hash",               # absent MUST term → empty
    "+hash -zzz_missing join",
    "merge lang:en lang:fr",           # contradictory filters → empty
    'the AND scan AND merge -sort "hash join" window~1 lang:en',  # kitchen sink
]


def _assert_matches_oracle(tables, q):
    got = _rows(search(tables, q, k=10))
    exp = _oracle_rows(boolean_query_sql(q, k=10))
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], f"rank/doc: {q}"
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6, q


@pytest.mark.parametrize("q", BOOLEAN_QUERIES)
def test_boolean_matches_oracle(btables, q):
    """Local regime (this index is small): one collected scan feeds the
    clause kernels on the driver and the clauses combine there."""
    _assert_matches_oracle(btables, q)


@pytest.mark.parametrize("q", BOOLEAN_QUERIES)
def test_boolean_matches_oracle_exchange(btables, q, exchange_regime):
    """The same battery with the local gate zeroed: clause kernels in
    Spark tasks and the Spark combine (joins, union-sum, anti-join)."""
    _assert_matches_oracle(btables, q)


def test_boolean_fast_path_equals_topk(btables):
    """'hash join' through search() must equal topk(mode='or') exactly
    (the single-clause dispatch keeps the k-bounded fast path)."""
    from oni_indexer_spark.query import topk

    assert _rows(search(btables, "hash join", k=10)) == _rows(
        topk(btables, "hash join", k=10)
    )
    assert _rows(search(btables, "+hash +join", k=10)) == _rows(
        topk(btables, "hash join", k=10, mode="and")
    )
    assert _rows(search(btables, '"hash join"', k=10)) == _rows(
        topk(btables, "hash join", k=10, mode="phrase")
    )


def test_boolean_must_not_is_subtractive(btables):
    """Every doc in '+hash -scan' must appear in '+hash' with the SAME
    score (MUST_NOT never changes scoring, only membership)."""
    full = {d: s for _, d, s in _rows(search(btables, "+hash", k=1000))}
    sub = _rows(search(btables, "+hash -scan", k=1000))
    assert sub, "corpus should have hash-without-scan docs"
    for _, d, s in sub:
        assert full[d] == s
    excluded = set(full) - {d for _, d, _ in sub}
    with_scan = {d for _, d, _ in _rows(search(btables, "+scan", k=10000))}
    assert excluded <= with_scan


# -------------------------------------------------------------- boost

BOOSTED_QUERIES = [
    "hash^2 join",                    # boosted SHOULD term
    "+hash^3 -scan join",             # boosted MUST term
    '"merge sort"^2.5 hash',          # boosted phrase clause
    '"hash join"~2^3 merge',          # slop + boost compose
    "snake*^2 merge",                 # boosted prefix expansion
    "merge~1^0.5 hash",               # boosted fuzzy expansion
    "hash^2 hash join",               # boost + multiplicity sum (w=3)
]


@pytest.mark.parametrize("q", BOOSTED_QUERIES)
def test_boost_matches_oracle(btables, q):
    _assert_matches_oracle(btables, q)


def test_boost_scales_scores_linearly(btables):
    """A single-clause query boosted by 2 must double every score while
    preserving order — Lucene's boost is a pure score multiplier."""
    base = _rows(search(btables, "hash", k=20))
    boosted = _rows(search(btables, "hash^2", k=20))
    assert [(r, d) for r, d, _ in base] == [(r, d) for r, d, _ in boosted]
    for (_, _, s1), (_, _, s2) in zip(base, boosted):
        assert abs(s2 - 2 * s1) < 1e-5


def test_boost_parse():
    pq = parse_query('x^2 "a b"~1^3.5 pre*^4 f~2^0.5')
    assert [(c.kind, c.boost, c.slop) for c in pq.clauses] == [
        ("term", 2.0, 0), ("phrase", 3.5, 1), ("prefix", 4.0, 0),
        ("fuzzy", 0.5, 2),
    ]


# ------------------------------------------------- randomized property

def test_boolean_randomized_vs_oracle(btables):
    """Randomized flat queries over the corpus vocabulary (seeded RNG, no
    Hypothesis shrinking needed — failures print the query): every
    generated query must match the DuckDB oracle rank-for-rank. Covers
    clause-kind x occur x boost x slop x filter interactions the
    hand-written battery can't enumerate. Local regime."""
    _randomized_vs_oracle(btables)


def test_boolean_randomized_vs_oracle_exchange(btables, exchange_regime):
    """The randomized battery with the local gate zeroed (Spark kernels
    and the Spark combine)."""
    _randomized_vs_oracle(btables)


def _randomized_vs_oracle(btables):
    import random

    rng = random.Random(42)
    vocab = ["hash", "join", "merge", "scan", "sort", "window", "the",
             "spark", "index", "snake_case_1"]

    def gen_clause():
        kind = rng.choice(["term", "term", "term", "phrase", "prefix", "fuzzy"])
        sign = rng.choice(["", "", "", "+", "-"])
        boost = rng.choice(["", "", "^2", "^0.5"])
        if kind == "phrase":
            w = " ".join(rng.sample(vocab, rng.choice([2, 2, 3])))
            slop = rng.choice(["", "", "~1", "~2"])
            return f'{sign}"{w}"{slop}{boost}'
        w = rng.choice(vocab)
        if kind == "prefix":
            return f"{sign}{w[:2]}*{boost}"
        if kind == "fuzzy":
            return f"{sign}{w}~1{boost}"
        return f"{sign}{w}{boost}"

    def gen_query():
        n = rng.choice([1, 2, 2, 3, 3, 4])
        parts = [gen_clause() for _ in range(n)]
        if rng.random() < 0.3:
            parts.append(rng.choice(["lang:en", "-lang:fr", "dl:[20 TO 300]"]))
        return " ".join(parts)

    checked = 0
    for _ in range(40):
        q = gen_query()
        try:
            pq = parse_query(q)
        except ValueError:
            continue  # e.g. all clauses negative — parser rejects, fine
        # slop on >2-term phrases has no SQL oracle; skip those draws
        if any(c.kind == "phrase" and c.slop and len(c.text.split()) != 2
               for c in pq.clauses):
            continue
        _assert_matches_oracle(btables, q)
        checked += 1
    assert checked >= 25, f"only {checked} queries actually checked"


@pytest.fixture(scope="module")
def zzrare_tables(docs):
    """A rare term, ``zzrare``, appended to docs 3 and 450 (2 of 500, so
    the rarest-block gate fires), indexed on disk (its postings read is
    a pruned parquet scan)."""
    import tempfile

    from pyspark.sql import functions as F

    from oni_indexer_spark.index import build_to_path, read_index

    marked = docs.withColumn(
        "content",
        F.when(F.col("doc_id").isin(3, 450),
               F.concat(F.col("content"), F.lit(" zzrare")))
        .otherwise(F.col("content")),
    )
    path = tempfile.mkdtemp(prefix="zzrare_") + "/idx"
    build_to_path(marked, path, IndexConfig(block_size=64, n_buckets=8), bucket_group_size=8)
    return read_index(marked.sparkSession, path)


def _zzrare_oracle_rows(sql):
    """The oracle over the same corpus as ``zzrare_tables``."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT doc_id, "
        f"text || CASE WHEN doc_id IN (3, 450) THEN ' zzrare' ELSE '' END AS text, "
        f"lang, source, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    )
    return [(r[0], r[1], round(r[2], 6)) for r in con.execute(sql).fetchall()]


def _assert_same_rows(got, exp):
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


def test_must_block_pushdown_fires_and_stays_exact(
    spark, zzrare_tables, collected_scans, monkeypatch
):
    """Force the cross-clause MUST-block pushdown (a MUST term in 2 of
    500 docs → rarest-block gate fires) and pin, in both regimes,
    exactness vs the oracle over the same modified corpus and that the
    clause passes are restricted to the rare term's blocks."""
    from pyspark.sql import DataFrame

    from oni_indexer_spark.hashing import xxhash64_str
    from oni_indexer_spark.query import bm25

    s = bm25.searcher_for(zzrare_tables)
    assert s._rare_blocks(s.term_dfs(["zzrare", "merge"]), s.stats()[0]) is not None
    q = "+zzrare merge the"
    exp = _zzrare_oracle_rows(boolean_query_sql(q, k=10))

    # local regime: ONE collected scan of the union of the clause terms
    # feeds every clause kernel on the driver; the pushdown filters the
    # collected rows, so every block row reaching a kernel lies in one
    # of zzrare's blocks
    kernel_blocks = []
    run_kernel = bm25._run_kernel

    def spy(sel, *a, **kw):
        if not isinstance(sel, DataFrame):
            kernel_blocks.append(set(sel.column("block_id").to_pylist()))
        return run_kernel(sel, *a, **kw)

    monkeypatch.setattr(bm25, "_run_kernel", spy)
    got = _rows(s.search(q, k=10))
    (scan,) = collected_scans
    assert "PushedFilters: [In(tid" in scan and "Python" not in scan
    for t in ("zzrare", "merge", "the"):
        assert str(xxhash64_str(t)) in scan, t
    assert len(kernel_blocks) == 2  # the MUST pass and the SHOULD pass
    rare = {3 // 64, 450 // 64}
    assert all(b and b <= rare for b in kernel_blocks), kernel_blocks
    _assert_same_rows(got, exp)

    # exchange regime: the MUST pass and the SHOULD pass are both
    # semi-joined by the rare blocks (block_id join keys appear per pass)
    monkeypatch.setattr(bm25, "LOCAL_KERNEL_MAX_POSTINGS", 0)
    df = s.search(q, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin [block_id") >= 2
    _assert_same_rows(_rows(df), exp)


def test_small_and_topk_prefilters_locally(spark, zzrare_tables):
    """A small AND query whose rarest term is selective filters its
    collected rows to that term's blocks in pyarrow — no distinct or
    broadcast job: on a fresh Searcher whose stats and dfs are known
    the query runs 1 job, its warm repeat none, and both stay
    oracle-exact."""
    from oni_indexer_spark.oracle import bm25_topk_sql
    from oni_indexer_spark.query.bm25 import Searcher
    from tests.conftest import jobs_run

    s = Searcher(zzrare_tables)
    s.stats(), s.term_dfs(["zzrare", "merge"])  # corpus stats and dfs only
    exp = _zzrare_oracle_rows(bm25_topk_sql("zzrare merge", k=10, mode="and"))
    for want_jobs in (1, 0):
        rows, jobs = jobs_run(
            spark, lambda: s.topk("zzrare merge", k=10, mode="and").collect()
        )
        assert jobs == want_jobs
        got = sorted((r["rank"], r["doc_id"], round(r["score"], 6)) for r in rows)
        assert got
        _assert_same_rows(got, exp)
