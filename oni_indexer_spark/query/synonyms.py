"""Query-time synonyms — Lucene ``SynonymQuery`` semantics on Spark.

Solr's SynonymGraphFilter at query time rewrites each term into a
SynonymQuery over its group, which scores the group AS ONE TERM
(Lucene SynonymQuery javadoc): term frequency = SUM of the members'
tfs in the doc, document frequency = MAX of the members' docFreqs —
tf merges BEFORE BM25's saturation, so this is NOT expressible as a
weighted OR over member terms (which would saturate each member
separately and over-score docs hitting several synonyms).

The scorer is a variant of the block-aligned multi-term pass
(``bm25._make_decode_score_group_arrow``, over the same
``bm25._block_stream`` decode core): one shuffle of COMPRESSED block
rows co-locates every member term's postings per doc-range block, then
a numpy pass scatter-adds raw tf into a dense
(block-group x block_size x n_groups) grid, saturates per group, and
sums group scores per doc — exact totals, per-batch candidate
selection, nothing doc-sized leaves the worker. Shuffle volume is the
same few-bytes-per-posting blob shuffle as a plain multi-term query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def _make_decode_synonym_group_arrow(
    block_size: int,
    grp_by_tid: dict[int, int],
    idf_by_grp: list[float],
    avgdl: float,
    k1: float,
    b: float,
    n_groups_and: int | None,
    k: int | None,
    positions: bool = False,
    allowed_bc=None,
):
    """Arrow scorer: rows are (tid, block_id, block_min_dl[, n], blob),
    hash-partitioned and sorted by block_id so all member terms'
    postings for a doc-range block arrive together. Per unit of whole
    blocks: decode -> scatter-add RAW tf per (doc-slot, group) ->
    saturate per group with that group's idf -> sum groups per doc.
    ``n_groups_and``: AND at the group level (doc must hit every
    group). ``k``: conservative per-unit candidate selection (same
    rounding-grid guard as the plain scorer)."""
    from oni_indexer_spark.query.bm25 import _scoring_kernel, _slot_grid

    n_groups = len(idf_by_grp)

    def score(u):
        import numpy as np

        idf_arr = np.asarray(idf_by_grp, dtype=np.float64)
        grp_row = np.array([grp_by_tid[int(t)] for t in u.tids], dtype=np.int64)
        grp_post = np.repeat(grp_row, u.counts)
        slot, n_slots, slot_docs = _slot_grid(u, block_size)
        # raw tf accumulates per (slot, synonym group) BEFORE
        # saturation — the defining SynonymQuery semantic
        tfsum = np.zeros(n_slots * n_groups, dtype=np.float64)
        np.add.at(tfsum, slot * n_groups + grp_post, u.tfs.astype(np.float64))
        dl_arr = np.zeros(n_slots, dtype=np.float64)
        dl_arr[slot] = u.dls.astype(np.float64)  # dl identical per doc
        tf2 = tfsum.reshape(-1, n_groups)
        denom = tf2 + k1 * (1.0 - b + b * (dl_arr / avgdl))[:, None]
        with np.errstate(invalid="ignore", divide="ignore"):
            sat = np.where(tf2 > 0.0, tf2 * (k1 + 1.0) / denom, 0.0)
        tot = sat @ idf_arr
        hits = (tf2 > 0.0).sum(axis=1)
        mask = (hits == n_groups_and) if n_groups_and is not None else (hits > 0)
        sel = np.nonzero(mask)[0]
        return slot_docs(sel), tot[sel]

    return _scoring_kernel(block_size, score, positions, k=k, allowed_bc=allowed_bc)


def synonym_topk(
    tables,
    groups: list,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k for a query of synonym groups. ``groups`` is a list whose
    elements are either a plain term (singleton group) or a list of
    synonymous terms. Each group scores as one Lucene SynonymQuery
    (tf summed across members, df = max member df); groups combine as
    OR (score sum) or AND (every group must hit)."""
    from oni_indexer_spark.analyzer import analyzer_tokenize_py
    from oni_indexer_spark.hashing import xxhash64_str
    from oni_indexer_spark.query.bm25 import (
        _colocate_blocks,
        _empty_result,
        _ranked,
        _scan_est,
        _term_postings,
        searcher_for,
    )

    s = searcher_for(tables)
    s._check_external_staleness()
    cfg = tables.cfg

    norm_groups: list[list[str]] = []
    seen: set[str] = set()
    for g in groups:
        members = [g] if isinstance(g, str) else list(g)
        toks: list[str] = []
        for m in members:
            ts = analyzer_tokenize_py(m, cfg.analyzer)
            if len(ts) > 1:
                raise ValueError(f"synonym member analyzes to {len(ts)} tokens: {m!r}")
            if ts and ts[0] not in toks:
                toks.append(ts[0])
        for t in toks:
            if t in seen:
                raise ValueError(f"term {t!r} appears in two synonym groups")
            seen.add(t)
        if toks:
            norm_groups.append(toks)
    if not norm_groups:
        return _empty_result(tables)

    all_terms = [t for g in norm_groups for t in g]
    dfs = s.term_dfs(all_terms)
    present_groups: list[tuple[list[str], int]] = []
    for g in norm_groups:
        present = [t for t in g if t in dfs]
        if not present:
            if mode == "and":
                return _empty_result(tables)
            continue
        present_groups.append((present, max(dfs[t] for t in present)))
    if not present_groups:
        return _empty_result(tables)

    n_docs, avgdl = s.stats()
    grp_by_tid: dict[int, int] = {}
    idf_by_grp: list[float] = []
    scan_terms: list[str] = []
    for gi, (members, df_g) in enumerate(present_groups):
        idf_by_grp.append(math.log(1.0 + (n_docs - df_g + 0.5) / (df_g + 0.5)))
        for t in members:
            grp_by_tid[xxhash64_str(t)] = gi
            scan_terms.append(t)

    pos_cols = ["n"] if cfg.positions else []
    p, syn_buckets = _term_postings(tables, scan_terms)
    # scale-adaptive fan-out / shuffle-free crossover, same rule as
    # bm25._scores (Σ df over the scanned terms bounds the decoded volume)
    co = _colocate_blocks(
        p.select("tid", "block_id", "block_min_dl", *pos_cols, "blob"),
        sum(dfs[t] for t in scan_terms),
        _scan_est(n_docs, avgdl, syn_buckets, cfg.n_buckets),
    )
    scored = co.mapInArrow(
        _make_decode_synonym_group_arrow(
            cfg.block_size,
            grp_by_tid,
            idf_by_grp,
            float(avgdl),
            cfg.k1,
            cfg.b,
            len(norm_groups) if mode == "and" else None,
            k,
            positions=cfg.positions,
        ),
        "doc_id long, score double",
    )
    return _ranked(scored, k)
