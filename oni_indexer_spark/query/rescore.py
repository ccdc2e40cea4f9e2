"""Score-shaping query surfaces: Solr boost functions + ReRank.

``boost_topk`` is Solr's edismax additive boost function (``bf=``,
``doc/Solr_config.md`` surface of the reference's portal; Lucene
FunctionQuery): final score = BM25 + weight * f(field), ranked by the
boosted score. Because a boost can promote ANY matching doc into the
top-k, the match set is scored in full (the same exact k=None clause
pass the field-sort paging path uses) — the boost itself is a codegen'd
column expression, never a UDF.

``rerank_topk`` is Solr's ReRankQParser (``rq={!rerank reRankQuery=...
reRankDocs=N reRankWeight=w}``): the main query's top-N window is
rescored as base + w * rerank_score(doc) for docs the rerank query also
matches; docs in the window that don't match keep their base score.
Scale shape: the base pass rides the k-bounded top-k machinery at
k=reRankDocs, the rerank query's exact scores are joined only against
that ≤N-row window (window ids broadcast into the big side), so the
expensive second query never ranks more than N docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BOOST_FNS = {
    "log1p": lambda c: F.log(F.lit(1.0) + c),
    "linear": lambda c: c.cast("double"),
}


def boost_topk(
    tables,
    query: str,
    boost_field: str = "dl",
    k: int = 10,
    weight: float = 1.0,
    fn: str = "log1p",
    mode: str = "or",
    fq: dict | None = None,
) -> DataFrame:
    """Top-k by BM25 + ``weight * fn(boost_field)`` (Solr ``bf``)."""
    from oni_indexer_spark.query.bm25 import _empty_result, _ranked, searcher_for
    from oni_indexer_spark.query.paging import _full_scores

    if fn not in _BOOST_FNS:
        raise ValueError(f"unknown boost fn: {fn}")
    s = searcher_for(tables)
    scored = _full_scores(s, query, mode, fq, 0)
    if scored is None:
        return _empty_result(tables)
    boost = _BOOST_FNS[fn](F.col(boost_field))
    boosted = (
        scored.join(tables.doclen.select("doc_id", boost_field), "doc_id")
        .select(
            "doc_id",
            (F.col("score") + F.lit(float(weight)) * boost).alias("score"),
        )
    )
    return _ranked(tables.doclen.sparkSession, boosted, k)


def rerank_topk(
    tables,
    query: str,
    rerank_query: str,
    k: int = 10,
    rerank_docs: int = 50,
    weight: float = 2.0,
    mode: str = "or",
    rerank_mode: str = "or",
) -> DataFrame:
    """Solr ReRankQParser: rescore the main query's top-``rerank_docs``
    window as ``base + weight * rerank_score``, return the top ``k``.

    Window pushdown (r5 VERDICT #7): the base window (≤ ``rerank_docs``
    rows — bounded at any corpus size) is collected driver-side, and
    rides into the rerank pass twice: its doc_ids as a sorted doc set
    (the fq-pushdown mechanism — the scorer emits only window docs)
    and its BLOCK list (block_id = doc_id // block_size, computed
    driver-side) as a broadcast semi-join that prunes the rerank scan
    BEFORE decode. The rerank query's postings outside the window's ≤N
    blocks are never shuffled or decoded — previously the second pass
    scored its terms full-width and threw almost all of it away at the
    window join (measured 1M: q_rerank 3.79s vs 1.88s for the base
    query alone). Exactness: per-doc totals are block-local, so
    restricting to the window's blocks plus the final join FROM the
    window side yields byte-identical scores."""
    import numpy as np
    import pyarrow as pa

    from oni_indexer_spark.query.bm25 import (
        _DocSet,
        _empty_result,
        _local_df,
        _ranked,
        searcher_for,
    )
    from oni_indexer_spark.query.paging import _full_scores

    if k > rerank_docs:
        raise ValueError("k must be <= rerank_docs (only the window is rescored)")
    s = searcher_for(tables)
    base_rows = (
        s.topk(query, k=rerank_docs, mode=mode)
        .select("doc_id", F.col("score").alias("base_score"))
        .collect()
    )
    if not base_rows:
        return _empty_result(tables)
    spark = tables.doclen.sparkSession
    # an Arrow LocalRelation (no job to build; base_score doubles stay
    # bit-exact) holds the window; its block list prunes the rerank
    # pass's rows (bm25._keep_blocks)
    base = _local_df(spark, pa.table({
        "doc_id": pa.array([r["doc_id"] for r in base_rows], type=pa.int64()),
        "base_score": pa.array([r["base_score"] for r in base_rows], type=pa.float64()),
    }))
    ids = np.sort(np.array([r["doc_id"] for r in base_rows], dtype=np.int64))
    rr = _full_scores(
        s, rerank_query, rerank_mode, None, 0,
        allowed=_DocSet(ids), block_filter=np.unique(ids // tables.cfg.block_size),
    )
    if rr is None:
        final = base.select(
            "doc_id", F.col("base_score").alias("score")
        )
        return _ranked(spark, final, k)
    window_rr = rr.select("doc_id", F.col("score").alias("rr_score"))
    final = (
        base.join(window_rr, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("base_score")
                + F.lit(float(weight)) * F.coalesce(F.col("rr_score"), F.lit(0.0))
            ).alias("score"),
        )
    )
    return _ranked(spark, final, k)
