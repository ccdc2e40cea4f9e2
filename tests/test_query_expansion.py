"""Term-dictionary-expanded queries (prefix / fuzzy), generalized filter
queries (negation / range), and highlighting — the rest of the Solr/Lucene
query surface the reference's portal serves (portal_base.json:18-23:
Solr's standard parser accepts ``ha*``, ``hash~``, ``-lang:en``,
``dl:[40 TO 120]``, ``hl=true`` over main_search). Each feature is pinned
against its DuckDB oracle twin and its edge semantics are pinned here:
expansion caps/determinism, fuzzy weights, fq path agreement, snippet
anchor fallback."""

import duckdb
import pytest

from oni_indexer_spark.index import IndexConfig, build_index
from oni_indexer_spark.oracle import (
    bm25_fuzzy_topk_sql,
    bm25_prefix_topk_sql,
    bm25_topk_sql,
    snippet_topk_sql,
)
from oni_indexer_spark.query.bm25 import (
    Searcher,
    _levenshtein_py,
    snippet_topk,
)
from tests.conftest import SF_SMOKE


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    return con.execute(sql).fetchall()


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


# ------------------------------------------------------------- prefix

def test_prefix_topk_matches_oracle(tables):
    got = _rows(Searcher(tables).prefix_topk("ha", k=10))
    exp = [(r[0], r[1], round(r[2], 6)) for r in _duck(bm25_prefix_topk_sql("ha", k=10))]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


def test_prefix_expansion_cap_is_deterministic(tables):
    """max_terms smaller than the match set keeps the HIGHEST-df terms
    (Lucene top-terms rewrite), ties broken by term asc — and the capped
    engine expansion equals the capped oracle's (both sides re-derive the
    same (df desc, term asc) cut)."""
    s = Searcher(tables)
    full = s.expand_prefix("s")
    capped = s.expand_prefix("s", max_terms=3)
    assert len(full) > 3, "corpus should have >3 s-terms for this test"
    assert capped == sorted(full, key=lambda td: (-td[1], td[0]))[:3]
    got = _rows(s.prefix_topk("s", k=5, max_terms=3))
    exp = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(bm25_prefix_topk_sql("s", k=5, max_terms=3))
    ]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]


def test_prefix_no_match_is_empty(tables):
    assert _rows(Searcher(tables).prefix_topk("zzqx", k=10)) == []


def test_prefix_constant_score_rewrite_matches_oracle(tables):
    """Lucene CONSTANT_SCORE rewrite for big expansions: score 1.0, k
    lowest matching doc_ids. Forced here (the sf0.001 vocabulary never
    crosses the 16-term auto threshold); at corpus scale (code
    identifiers like snake_case_<n>) the auto threshold picks it — a
    128-clause scored OR measured ~7x a plain multi-term query."""
    got = _rows(Searcher(tables).prefix_topk("s", k=10, rewrite="constant"))
    exp = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(bm25_prefix_topk_sql("s", k=10, rewrite="constant"))
    ]
    assert sorted(got) == sorted(exp)
    assert all(sc == 1.0 for _, _, sc in got)


def test_prefix_auto_threshold(tables):
    """auto == scoring below the threshold; forcing constant gives a
    different (doc_id-ordered) head — pinning that the mode dispatch
    actually switches."""
    s = Searcher(tables)
    auto = _rows(s.prefix_topk("s", k=10))
    scoring = _rows(s.prefix_topk("s", k=10, rewrite="scoring"))
    assert auto == scoring  # 6-term expansion stays on the scoring path
    const = _rows(s.prefix_topk("s", k=10, rewrite="constant"))
    assert [d for _, d, _ in const] == sorted(d for _, d, _ in const)


def test_prefix_constant_with_fq(tables):
    got = _rows(
        Searcher(tables).prefix_topk(
            "s", k=10, rewrite="constant", fq={"lang": "en"}
        )
    )
    exp = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(
            bm25_prefix_topk_sql(
                "s", k=10, rewrite="constant",
                fq_sub="SELECT doc_id FROM documents WHERE lang = 'en'",
            )
        )
    ]
    assert sorted(got) == sorted(exp)


# ------------------------------------------------------------- fuzzy

def test_fuzzy_topk_matches_oracle(tables):
    got = _rows(Searcher(tables).fuzzy_topk("hash", k=10))
    exp = [
        (r[0], r[1], round(r[2], 6)) for r in _duck(bm25_fuzzy_topk_sql("hash", k=10))
    ]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


def test_fuzzy_typo_reaches_neighbour(tables):
    """The typo-tolerance case: a query term NOT in the corpus must
    expand to its ed-1 neighbour with weight < 1, and the weighted query
    must match the oracle."""
    s = Searcher(tables)
    exp = s.expand_fuzzy("scann", max_edits=1)
    assert [(t, ed) for t, _, ed in exp] == [("scan", 1)]
    got = _rows(s.fuzzy_topk("scann", k=10))
    assert got, "ed-1 neighbour should produce results"
    exp_rows = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(bm25_fuzzy_topk_sql("scann", k=10))
    ]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp_rows]
    for g, e in zip(got, exp_rows):
        assert abs(g[2] - e[2]) < 1e-6
    # weighted scores are strictly below the unweighted 'scan' scores
    plain = _rows(s.topk("scan", k=10))
    assert got[0][2] < plain[0][2]


def test_levenshtein_py_matches_spark(spark, tables):
    """The driver-side DP must agree with the JVM builtin on the exact
    pairs the expansion weighted."""
    from pyspark.sql import functions as F

    pairs = [
        ("hash", "hash"), ("hash", "has"), ("hash", "cash"), ("hash", "hashes"),
        ("scan", "span"), ("a", "ab"), ("kitten", "sitting"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string").select(
        F.levenshtein("a", "b").alias("ed")
    )
    got = [r["ed"] for r in df.collect()]
    exp = [_levenshtein_py(a, b) for a, b in pairs]
    assert got == exp


# ----------------------------------------------------- fq: neq / range

def test_fq_neq_matches_oracle_on_both_paths(tables):
    exp = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(
            bm25_topk_sql(
                "hash", k=10,
                fq_sub="SELECT doc_id FROM documents WHERE lang <> 'en'",
            )
        )
    ]
    pushed = Searcher(tables)
    got_pushed = _rows(pushed.topk("hash", k=10, fq={"lang": ("neq", "en")}))
    joined = Searcher(tables)
    joined.fq_pushdown_max_docs = 0
    got_joined = _rows(joined.topk("hash", k=10, fq={"lang": ("neq", "en")}))
    for got in (got_pushed, got_joined):
        assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
        for g, e in zip(got, exp):
            assert abs(g[2] - e[2]) < 1e-6


def test_fq_range_matches_oracle(tables):
    exp = [
        (r[0], r[1], round(r[2], 6))
        for r in _duck(
            bm25_topk_sql(
                "hash", k=10,
                fq_sub="SELECT doc_id FROM dl WHERE dl BETWEEN 40 AND 120",
            )
        )
    ]
    got = _rows(Searcher(tables).topk("hash", k=10, fq={"dl": ("range", 40, 120)}))
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


def test_fq_unknown_op_raises(tables):
    with pytest.raises(ValueError, match="unknown fq op"):
        _rows(Searcher(tables).topk("hash", k=10, fq={"lang": ("like", "e%")}))


# ------------------------------------------------------- more-like-this

def test_mlt_matches_oracle(tables, docs):
    from oni_indexer_spark.oracle import mlt_topk_sql
    from oni_indexer_spark.query.bm25 import more_like_this

    for did in (7, 42):
        got = _rows(more_like_this(tables, docs, did, k=10))
        exp = [
            (r[0], r[1], round(r[2], 6)) for r in _duck(mlt_topk_sql(did, k=10))
        ]
        assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
        for g, e in zip(got, exp):
            assert abs(g[2] - e[2]) < 1e-6


def test_mlt_excludes_source_and_keeps_rank_contiguity(tables, docs):
    """The source doc would rank first (it contains all its own top
    terms); exclusion must drop it while the doc at k+1 rises in — ranks
    stay 1..k with no gap."""
    from oni_indexer_spark.query.bm25 import more_like_this

    got = _rows(more_like_this(tables, docs, 42, k=10))
    assert 42 not in {d for _, d, _ in got}
    assert [r for r, _, _ in got] == list(range(1, len(got) + 1))
    assert len(got) == 10


def test_mlt_missing_doc_is_empty(tables, docs):
    from oni_indexer_spark.query.bm25 import more_like_this

    assert _rows(more_like_this(tables, docs, 10**9, k=10)) == []


# --------------------------------------------------------- highlighting

def test_snippet_matches_oracle(tables, docs):
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 6), r["snippet"])
        for r in snippet_topk(tables, docs, "hash join", k=10, window=5)
        .orderBy("rank")
        .collect()
    ]
    exp = sorted(
        (r[0], r[1], round(r[2], 6), r[3])
        for r in _duck(snippet_topk_sql("hash join", k=10, window=5))
    )
    assert got == exp


def test_snippet_anchor_fallback(tables, docs):
    """An OR-matched doc missing the FIRST query term must fall back to
    the leading tokens — deterministic, and identical in the oracle."""
    # 'zzz_not_in_corpus hash' OR-matches on 'hash' only; anchor term is
    # absent from every doc, so every snippet is the first 11 tokens.
    q = "zzz_not_in_corpus hash"
    got = {
        r["doc_id"]: r["snippet"]
        for r in snippet_topk(tables, docs, q, k=5, window=5).collect()
    }
    exp = dict(
        (r[1], r[3]) for r in _duck(snippet_topk_sql(q, k=5, window=5))
    )
    assert got == exp
    assert all(len(s.split(" ")) <= 11 for s in got.values())


# ----------------------------------------- suggest / spellcheck (portal)

def test_suggest_matches_oracle(tables):
    from oni_indexer_spark.oracle import suggest_sql
    from oni_indexer_spark.query import suggest

    for pre in ("s", "me", "h", "zzqx"):
        got = [(r["term"], r["df"]) for r in suggest(tables, pre, 10).collect()]
        exp = [(r[0], r[1]) for r in _duck(suggest_sql(pre, 10))]
        assert got == exp, pre
    assert suggest(tables, "", 10).count() == 0


def test_spellcheck_matches_oracle(tables):
    from oni_indexer_spark.oracle import spellcheck_sql
    from oni_indexer_spark.query import spellcheck

    for w in ("scann", "merg", "hash", "windoq"):
        got = [(r["term"], r["df"], r["ed"])
               for r in spellcheck(tables, w).collect()]
        exp = [tuple(r) for r in _duck(spellcheck_sql(w))]
        assert got == exp, w


def test_spellcheck_excludes_identity(tables):
    from oni_indexer_spark.query import spellcheck

    rows = spellcheck(tables, "merge").collect()
    assert all(r["term"] != "merge" for r in rows)
    assert all(1 <= r["ed"] <= 2 for r in rows)
