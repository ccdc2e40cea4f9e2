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


@pytest.mark.parametrize("q", BOOLEAN_QUERIES)
def test_boolean_matches_oracle(btables, q):
    got = _rows(search(btables, q, k=10))
    exp = _oracle_rows(boolean_query_sql(q, k=10))
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], "rank/doc"
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


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
    got = _rows(search(btables, q, k=10))
    exp = _oracle_rows(boolean_query_sql(q, k=10))
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], "rank/doc"
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6


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
    hand-written battery can't enumerate."""
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
        got = _rows(search(btables, q, k=10))
        exp = _oracle_rows(boolean_query_sql(q, k=10))
        assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp], q
        for g, e in zip(got, exp):
            assert abs(g[2] - e[2]) < 1e-6, q
        checked += 1
    assert checked >= 25, f"only {checked} queries actually checked"


def test_must_block_pushdown_fires_and_stays_exact(spark, docs, collected_scans):
    """Force the cross-clause MUST-block pushdown (a MUST term in 2 of
    500 docs → rarest-block gate fires) and pin (a) exactness vs the
    oracle over the same modified corpus, (b) that the SHOULD pass's
    postings scan is actually semi-joined by the rare blocks (plan)."""
    import duckdb as _dd

    from pyspark.sql import functions as F

    from oni_indexer_spark.index import IndexConfig, build_index
    from oni_indexer_spark.query.bm25 import searcher_for

    marked = docs.withColumn(
        "content",
        F.when(F.col("doc_id").isin(3, 450),
               F.concat(F.col("content"), F.lit(" zzrare")))
        .otherwise(F.col("content")),
    )
    t = build_index(marked, IndexConfig(block_size=64, n_buckets=8))
    s = searcher_for(t)
    assert s._rare_blocks(s.term_dfs(["zzrare", "merge"]), s.stats()[0]) is not None

    # each clause pass of this small query runs in the local regime: its
    # scan is collected while the query is built, so the semi-joins show
    # in the collected scans, not in the final plan
    df = s.search("+zzrare merge the", k=10)
    # the MUST pass and the SHOULD pass are both semi-joined by the
    # rare blocks (block_id join keys appear per pass)
    assert sum("BroadcastHashJoin [block_id" in p for p in collected_scans) >= 2

    got = _rows(df)
    con = _dd.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT doc_id, "
        f"text || CASE WHEN doc_id IN (3, 450) THEN ' zzrare' ELSE '' END AS text, "
        f"lang, source, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    )
    exp = [(r[0], r[1], round(r[2], 6))
           for r in con.execute(boolean_query_sql("+zzrare merge the", k=10)).fetchall()]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[2] - e[2]) < 1e-6
