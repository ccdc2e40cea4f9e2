"""Solr-style result paging: ``sort`` + ``start/rows`` (shallow) and
``cursorMark`` keyset paging (deep).

The reference's portal pages Solr results with ``start/rows`` and sorts
on schema fields (Solr common query params over the same ``select``
endpoint the portal queries, ``portal_base.json``); Solr documents that
deep paging must use cursorMark because ``start=N`` materializes N+rows
candidates on every shard. Both are mirrored here with the same split:

- ``start``-based paging ranks the scored set and slices
  ``(start, start+rows]`` — for score order the underlying top-k pass
  stays k-bounded at ``start+rows`` (TakeOrdered; fine for portal-depth
  pages, degrading exactly like Solr for deep offsets);
- ``cursor``-based paging never ranks beyond the page: the keyset
  predicate (lexicographic compare over the sort key, exactly Solr's
  cursorMark contract) filters BEFORE the per-field TakeOrdered, so
  page N costs the same as page 1 at any depth — the 100 TB-safe path.

Sort keys are ``"score"`` or doclen metadata columns (``dl``, ``repo``,
``path``, ``lang``); ``(doc_id, asc)`` is always appended as the unique
tiebreak (Solr requires the uniqueKey in cursor sorts for the same
reason). Documents MISSING a sort value order LAST in both directions
(Solr ``sortMissingLast`` — also DuckDB's default null order, keeping
the oracle exact; Spark's default would put nulls first on asc).
Keyset cursors skip null-keyed rows (SQL comparison semantics — the
same caveat Solr's cursorMark has on sortMissingLast fields). Score comparisons use ``round(score, 6)`` — the same rounding
grid as ``_ranked`` — so engine and DuckDB oracle order identically
under float-sum non-associativity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oni_indexer_spark.index.build import IndexTables
from oni_indexer_spark.query.bm25 import (
    _as_df,
    _empty_result,
    searcher_for,
)

#: default: Solr's score desc
DEFAULT_SORT: tuple[tuple[str, str], ...] = (("score", "desc"),)


def _sort_spec(sort) -> list[tuple[str, str]]:
    spec = [(f, d.lower()) for f, d in (sort or DEFAULT_SORT)]
    for f, d in spec:
        if d not in ("asc", "desc"):
            raise ValueError(f"sort direction must be asc/desc, got {d!r}")
    if "doc_id" not in [f for f, _ in spec]:
        spec.append(("doc_id", "asc"))  # Solr: uniqueKey tiebreak required
    return spec


def _key_col(field: str) -> Column:
    # the rounding grid makes float score ordering deterministic vs the oracle
    return F.round("score", 6) if field == "score" else F.col(field)


def _cursor_pred(spec: list[tuple[str, str]], cursor: tuple) -> Column:
    """Keyset predicate: rows strictly AFTER ``cursor`` in ``spec``
    order — OR over prefixes (k1 > v1), (k1 = v1 AND k2 > v2), …
    with > flipped to < on desc keys. This is Solr's cursorMark
    contract: the mark IS the last row's sort key."""
    if len(cursor) != len(spec):
        raise ValueError(
            f"cursor has {len(cursor)} values for {len(spec)} sort keys "
            f"(remember the implicit doc_id tiebreak)"
        )
    pred = None
    for i, (f, d) in enumerate(spec):
        c = _key_col(f)
        cmp_ = c < F.lit(cursor[i]) if d == "desc" else c > F.lit(cursor[i])
        for j in range(i):
            fj, _ = spec[j]
            cmp_ = (_key_col(fj) == F.lit(cursor[j])) & cmp_
        pred = cmp_ if pred is None else (pred | cmp_)
    return pred


def page(
    tables: IndexTables,
    query: str,
    rows: int = 10,
    mode: str = "or",
    fq: dict | None = None,
    sort=None,
    start: int = 0,
    cursor: tuple | None = None,
    slop: int = 0,
) -> DataFrame:
    """One page of results: ``(rank, doc_id, score)`` where rank is the
    1-based position WITHIN the page (Solr returns docs, not global
    ranks). ``start`` and ``cursor`` are mutually exclusive; the next
    page's cursor is the last returned row's sort-key tuple (fetch the
    sort fields via doclen / round(score, 6))."""
    if start and cursor is not None:
        raise ValueError("start and cursor are mutually exclusive (Solr contract)")
    if start < 0:
        raise ValueError("start must be >= 0")
    spec = _sort_spec(sort)
    s = searcher_for(tables)
    score_only = spec[0][0] == "score" and len(spec) == 2 and cursor is None

    if score_only:
        # ride the k-bounded fast paths: rank at start+rows, slice the page
        ranked = s.topk(query, k=start + rows, mode=mode, fq=fq, slop=slop)
        return (
            ranked.where(F.col("rank") > start)
            .select(
                (F.col("rank") - start).alias("rank"), "doc_id", "score"
            )
        )

    # field sort (or any cursor): full match set, metadata join, one
    # TakeOrdered bounded at start+rows (cursor: rows)
    scored = _full_scores(s, query, mode, fq, slop)
    if scored is None:
        return _empty_result(tables)
    meta = [f for f, _ in spec if f not in ("score", "doc_id")]
    if meta:
        scored = scored.join(
            tables.doclen.select("doc_id", *meta), "doc_id", "left"
        )
    if cursor is not None:
        scored = scored.where(_cursor_pred(spec, cursor))
    order = [
        _key_col(f).desc_nulls_last() if d == "desc"
        else _key_col(f).asc_nulls_last()
        for f, d in spec
    ]
    limit = rows if cursor is not None else start + rows
    top = scored.orderBy(*order).limit(limit)
    from pyspark.sql import Window as W

    w = W.orderBy(*order)
    out = top.withColumn("gr", F.row_number().over(w))
    if cursor is None and start:
        out = out.where(F.col("gr") > start)
        out = out.select((F.col("gr") - start).alias("rank"), "doc_id", "score")
    else:
        out = out.select(F.col("gr").alias("rank"), "doc_id", "score")
    return out


def _full_scores(
    s, query: str, mode: str, fq: dict | None, slop: int,
    allowed=None, block_filter=None,
):
    """Unranked full (doc_id, score) match set for any query mode —
    clause passes with k=None (per-batch selection off: every matching
    doc can reach the page under an arbitrary sort). Always a DataFrame
    (a local-regime pass comes back as a LocalRelation), or None when
    nothing can match.

    ``allowed`` / ``block_filter`` (only meaningful with ``fq=None``)
    push a caller-known bounded doc set into the pass — the rerank
    window pushdown: the scorer decodes only the window's blocks
    (``block_filter``, a block_id array, filters the block rows or
    semi-joins the scan) and emits only window docs
    (``allowed``, a ``bm25._DocSet``, filters inside the kernel)."""
    from oni_indexer_spark.analyzer import analyzer_tokenize_py

    tables = s.tables
    if fq is not None:
        empty, allowed = s._fq_docs(fq)
        if empty is not None:
            return None
    if mode == "phrase":
        qtoks = analyzer_tokenize_py(query, tables.cfg.analyzer)
        if not qtoks:
            return None
        if len(qtoks) == 1:
            return _full_scores(
                s, qtoks[0], "or", fq, 0,
                allowed=allowed, block_filter=block_filter,
            )
        scored = s._phrase_scores(
            qtoks, None, fq=fq, allowed=allowed, slop=slop,
            block_filter=block_filter,
        )
        return None if scored is None else _as_df(tables.postings.sparkSession, scored)
    from oni_indexer_spark.analyzer import query_terms

    terms = query_terms(query, tables.cfg.analyzer)
    if not terms:
        return None
    dfs = s.term_dfs(terms)
    if not dfs or (mode == "and" and len(dfs) < len(terms)):
        return None
    return _as_df(tables.postings.sparkSession, s._clause_scores(
        dfs, mode=mode, fq=fq, allowed=allowed, block_filter=block_filter,
    ))
