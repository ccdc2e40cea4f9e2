"""BM25 top-k retrieval over the materialized index.

Implements natively what the reference delegates to Solr/Lucene
(SURVEY.md §2.C4-C6): Lucene BM25 with k1=1.2, b=0.75,
``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``, free-text queries are
OR-of-terms over ``main_search`` (``config.json:38``,
``portal_base.json:18-23``); AND (intersection) is supported via the
same posting join with a match-all-terms constraint; facet drill-down
filters (Solr ``fq``) compose as metadata predicates.

Physical shape of a query (see ``.explain`` audit in tests/test_plans.py):

  scan postings WHERE bucket IN (term buckets) AND tid IN (tids)
      [directory-partition pruning + parquet row-group stats on tid]
  → [block-max prune: drop (term, block) rows that cannot reach the
     pass-1 threshold τ — lossless, tests/test_wand.py]
  → one numpy kernel pass (:func:`_run_kernel`) decodes, scores exact
    per-doc totals (single term: per-posting score IS the per-doc
    score; multi term: scatter-add over co-located doc-range blocks —
    every term's postings for a doc share one block_id), applies AND/τ
    bounds and per-batch conservative top-k selection — no decoded-row
    shuffle, no JVM hash aggregate
  → top-k on (round(score, 6) desc, doc_id asc).

Three regimes, chosen driver-side from Σ df. Σ df and the corpus
``(N, avgdl)`` cost no Spark job over an index on disk: a cold
``Searcher`` reads them on the driver from the stats and dfreq parquet
files the tables pinned at ``read_index`` (the query terms' bucket
files only), under a file-count and byte gate; an in-memory or cached
index, or metadata over the gate, is read by Spark jobs. Either way
they are memoized per ``Searcher`` generation.

  - empty: a term or filter matches nothing → an empty literal
    LocalRelation, 0 jobs.
  - local (Σ df ≤ ``LOCAL_KERNEL_MAX_POSTINGS``): the block rows come
    from :meth:`Searcher._local_rows`, which reads the terms it has not
    seen on the driver from the pinned postings files of their buckets
    under the same gate (no Spark job, so a cold small query runs
    none), else collects their pruned scan as Arrow (one JVM-only job,
    no Python worker), and memoizes them per term, so a warm repeat
    runs no Spark job either way. The rows are sorted by block_id and
    scored on the driver; the top-k (or facet count) is reduced there
    too and handed back as an Arrow LocalRelation. Block prefilters
    (rarest-term blocks, the constant-score k lowest blocks) filter the
    rows in pyarrow. A compound boolean query is local when Σ df over
    the UNION of its clause terms fits the gate: one set of rows for
    that union, every clause kernel on its tid slice, and the
    MUST/SHOULD/NOT combine on the driver (:func:`_combine_arrow`) —
    0 jobs over an index on disk, at most one with the Spark read.
  - exchange(n): the kernel runs in ``mapInArrow`` tasks; multi-term
    kernels first hash-repartition the COMPRESSED block rows by
    block_id (the only shuffle) at a width derived from Σ df, then
    TakeOrdered(k).
"""

from __future__ import annotations

from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oni_indexer_spark.analyzer import query_terms
from oni_indexer_spark.index.build import IndexConfig, IndexTables


def tfn_expr(tf: Column, dl: Column, avgdl: float, k1: float, b: float) -> Column:
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / F.lit(avgdl)))


def _fq_condition(col: str, v) -> Column:
    """One fq clause → a Column predicate. Solr filter-query forms
    (SURVEY.md §2.C9): a plain value is exact-match (``lang:en``); a
    ``("neq", v)`` tuple is exclusion (``-lang:en`` — NULLs excluded,
    matching SQL ``<>`` so the DuckDB oracle twin is exact); a
    ``("range", lo, hi)`` tuple is an inclusive range
    (``dl:[lo TO hi]``); an ``("all", (cond, ...))`` tuple ANDs several
    conditions on the same column (``dl:[5 TO 100] -dl:7``). All forms
    are plain comparisons on the doclen
    metadata — they push down to the parquet scan as
    EqualTo / Not(EqualTo) / GreaterThanOrEqual+LessThanOrEqual."""
    if isinstance(v, tuple):
        if v[0] == "neq":
            return F.col(col) != F.lit(v[1])
        if v[0] == "range":
            return F.col(col).between(F.lit(v[1]), F.lit(v[2]))
        if v[0] == "all":
            out = _fq_condition(col, v[1][0])
            for sub in v[1][1:]:
                out = out & _fq_condition(col, sub)
            return out
        raise ValueError(f"unknown fq op: {v[0]!r} (want 'neq', 'range' or 'all')")
    return F.col(col) == F.lit(v)


def _fq_keep(doclen: DataFrame, fq: dict) -> DataFrame:
    keep = doclen
    for c, v in fq.items():
        keep = keep.where(_fq_condition(c, v))
    return keep


def _membership_filter(allowed, doc_ids, *arrs):
    """Keep only rows whose doc_id is in the SORTED ``allowed`` array
    (binary-search membership — the worker-side form of an fq filter)."""
    import numpy as np

    if doc_ids.size == 0 or allowed.size == 0:
        empty = doc_ids[:0]
        return (empty, *[a[:0] for a in arrs])
    pos = np.searchsorted(allowed, doc_ids, side="left")
    ok = (pos < allowed.size) & (allowed[np.minimum(pos, allowed.size - 1)] == doc_ids)
    return (doc_ids[ok], *[a[ok] for a in arrs])


def _whole_block_batches(batches):
    """Regroup block_id-SORTED Arrow batches so each yielded batch holds
    only whole blocks: the trailing block of every batch is held back
    and prepended to the next one, because a co-located partition's
    block may continue across an Arrow batch boundary (a doc's total
    must never be computed from part of its block)."""
    import numpy as np
    import pyarrow as pa

    carry = None
    for bt in batches:
        if carry is not None:
            bt = pa.Table.from_batches([carry, bt]).combine_chunks().to_batches()[0]
            carry = None
        n = len(bt)
        if n == 0:
            continue
        blk = bt.column("block_id").to_numpy(zero_copy_only=False)
        last_start = int(np.searchsorted(blk, blk[n - 1], side="left"))
        carry = bt.slice(last_start)
        if last_start > 0:
            yield bt.slice(0, last_start)
    if carry is not None:
        yield carry


class DecodedUnit(NamedTuple):
    """One decoded unit of block rows: per-ROW ``tids`` (None when the
    input has no tid column), ``blk`` and ``base_docs``; per-POSTING
    ``doc_ids``, ``tfs`` and ``dls``; per-row posting ``counts``; and
    the flat ``positions`` stream when it was asked for."""

    tids: object
    blk: object
    base_docs: object
    doc_ids: object
    tfs: object
    dls: object
    counts: object
    positions: object


def _block_stream(
    batches,
    block_size: int,
    positional: bool = False,
    with_positions: bool = False,
    whole_blocks: bool = False,
):
    """The one decode core under every kernel: Arrow batches of block
    rows ``([tid,] block_id, block_min_dl[, n], blob)`` → one
    :class:`DecodedUnit` per batch, decoded in one vectorized pass
    against the v4 per-row bases (doc relative to ``block_id *
    block_size``, dl relative to ``block_min_dl``). ``positional``
    reads v5 blobs (which need the row's ``n``); positions are only
    materialized with ``with_positions``. ``whole_blocks`` is for
    block-sorted (co-located) input: units then hold whole blocks
    (:func:`_whole_block_batches`). Unsorted scans stream batch by
    batch with no carry copy."""
    import numpy as np

    from oni_indexer_spark.index.codec import (
        decode_postings_flat,
        decode_postings_pos_flat,
    )

    def ints(b, name):
        return b.column(name).to_numpy(zero_copy_only=False).astype(np.int64)

    for b in _whole_block_batches(batches) if whole_blocks else batches:
        if len(b) == 0:
            continue
        blobs = b.column("blob").to_pylist()
        blk = ints(b, "block_id")
        base_docs = blk * block_size
        base_dls = ints(b, "block_min_dl")
        pos = None
        if positional:
            doc_ids, tfs, dls, counts, pos = decode_postings_pos_flat(
                blobs, ints(b, "n"), base_docs, base_dls, with_positions=with_positions
            )
        else:
            doc_ids, tfs, dls, counts = decode_postings_flat(blobs, base_docs, base_dls)
        tids = ints(b, "tid") if "tid" in b.schema.names else None
        yield DecodedUnit(tids, blk, base_docs, doc_ids, tfs, dls, counts, pos)


def _slot_grid(u: DecodedUnit, block_size: int):
    """Dense (block-group × block_size) slot of every posting of a
    block-sorted unit, so per-doc sums are scatter-adds. Returns
    ``(slot per posting, number of slots, slot → doc_id function)``."""
    import numpy as np

    new_grp = np.concatenate(([True], u.blk[1:] != u.blk[:-1]))
    grp_of_row = np.cumsum(new_grp) - 1
    grp_base = u.base_docs[new_grp]
    grp_rep = np.repeat(grp_of_row, u.counts)
    slot = grp_rep * block_size + (u.doc_ids - grp_base[grp_rep])
    n_slots = (int(grp_of_row[-1]) + 1) * block_size

    def slot_docs(sel):
        return grp_base[sel // block_size] + (sel % block_size)

    return slot, n_slots, slot_docs


def _conservative_topk(doc_ids, scores, k: int | None):
    """Per-unit candidate selection that cannot change the global top-k
    after rounding: every row with score >= round(kth_unit_score, 6) -
    1e-6 survives. The unit's kth is <= the global kth, so a dropped row
    rounds strictly below the global kth and cannot enter the final
    top-k even via the doc_id tie-break (the same rounding-grid guard
    as the block-max pruner)."""
    import numpy as np

    if k is None or scores.size <= k:
        return doc_ids, scores
    kth = np.partition(scores, scores.size - k)[scores.size - k]
    keep = scores >= (np.round(kth, 6) - 1e-6)
    return doc_ids[keep], scores[keep]


def _tfn_np(tfs, dls, avgdl: float, k1: float, b: float):
    """numpy twin of :func:`tfn_expr`: the same IEEE-double ops in the
    same order as the JVM and DuckDB forms, so scores agree exactly."""
    import numpy as np

    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(dls, dtype=np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _scoring_kernel(
    block_size: int,
    score_unit,
    positional: bool,
    with_positions: bool = False,
    whole_blocks: bool = True,
    k: int | None = None,
    floor: float | None = None,
    allowed=None,
):
    """Kernel body shared by every scorer: ``score_unit(unit)`` maps
    one :func:`_block_stream` unit to exact ``(doc_ids, scores)`` (or
    None), then the shared tail runs in the same pass:

    - ``allowed`` (a SORTED doc_id array on the driver, its broadcast in
      a Spark task — see :class:`_DocSet`) applies a pushed fq BEFORE
      selection, so the output stays O(k) per unit;
    - ``floor`` (a pass-1 τ of the pruned path) drops docs below
      round(τ,6)-1e-6 — τ <= the true kth score;
    - ``k`` keeps the conservative per-unit top-k candidates.

    Output rows are ``(doc_id long, score double)``."""

    def _run(batches):
        import pyarrow as pa

        ids = getattr(allowed, "value", allowed)
        guard = None if floor is None else (round(floor, 6) - 1e-6)
        for u in _block_stream(
            batches, block_size, positional, with_positions, whole_blocks
        ):
            out = score_unit(u)
            if out is None:
                continue
            docs, s = out
            if ids is not None:
                docs, s = _membership_filter(ids, docs, s)
            if guard is not None:
                keep = s >= guard
                docs, s = docs[keep], s[keep]
            docs, s = _conservative_topk(docs, s, k)
            if s.size:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docs, type=pa.int64()), pa.array(s, type=pa.float64())],
                    names=["doc_id", "score"],
                )

    return _run


def _make_decode_score_topk_arrow(
    block_size: int, idf_val: float, avgdl: float, k1: float, b: float,
    k: int | None,
    positions: bool = False,
    allowed=None,
    floor: float | None = None,
):
    """Single-term scorer: decode + BM25 score + per-batch candidate
    top-k in ONE numpy pass over an unsorted scan. A single term hits
    each doc at most once (tid, doc_id is unique across segments), so
    per-posting scores ARE the final per-doc scores — no cross-term sum,
    hence no groupBy and no block co-location, and each Arrow batch can
    pre-select its own top candidates, so a hot term's ~n_docs postings
    never leave the Python worker (measured 1M docs: the dominant cost
    of q_hot_single was pushing 1M decoded rows through Arrow + a JVM
    hash aggregate). ``k=None`` (boolean clauses, paging, unselective
    fq) emits every posting's score."""

    def score(u):
        return u.doc_ids, idf_val * _tfn_np(u.tfs, u.dls, avgdl, k1, b)

    return _scoring_kernel(
        block_size, score, positions, whole_blocks=False, k=k, floor=floor,
        allowed=allowed,
    )


def _make_decode_score_group_arrow(
    block_size: int,
    idf_by_tid: dict[int, float],
    avgdl: float,
    k1: float,
    b: float,
    n_terms_and: int | None,
    k: int | None,
    floor: float | None,
    positions: bool = False,
    allowed=None,
):
    """Multi-term scorer: rows are (tid, block_id, block_min_dl, blob),
    co-located by block_id (:func:`_run_kernel`), so ALL query terms'
    postings for a given doc-range block arrive together (doc-range
    blocks are global across terms — a doc's block_id is doc_id //
    block_size for every term). One numpy pass per unit of whole blocks:

      decode blobs → per-posting BM25 contribution → scatter-add into a
      dense (block-group × block_size) score grid → per-doc EXACT totals
      + term-hit counts, entirely inside the kernel.

    The only shuffle (exchange regime) is of the COMPRESSED block rows
    (~2-4 B/posting vs ~16 B/posting for decoded rows), and per-unit
    candidate selection means a hot term's postings never leave the
    kernel.

    ``n_terms_and``: when set, keep only docs hit by exactly that many
    terms (AND mode; (tid, doc) is unique so hits == terms matched).
    ``k`` / ``floor`` / ``allowed``: see :func:`_scoring_kernel`.
    """

    def score(u):
        import numpy as np

        idf_row = np.array([idf_by_tid[int(t)] for t in u.tids], dtype=np.float64)
        s = np.repeat(idf_row, u.counts) * _tfn_np(u.tfs, u.dls, avgdl, k1, b)
        slot, n_slots, slot_docs = _slot_grid(u, block_size)
        tot = np.zeros(n_slots, dtype=np.float64)
        np.add.at(tot, slot, s)
        hits = np.zeros(n_slots, dtype=np.int32)
        np.add.at(hits, slot, 1)
        mask = (hits == n_terms_and) if n_terms_and is not None else (hits > 0)
        sel = np.nonzero(mask)[0]
        return slot_docs(sel), tot[sel]

    return _scoring_kernel(
        block_size, score, positions, k=k, floor=floor, allowed=allowed
    )


def _make_decode_phrase_group_arrow(
    block_size: int,
    tid_offsets: list[tuple[int, int]],
    idf_sum: float,
    avgdl: float,
    k1: float,
    b: float,
    k: int | None,
    allowed=None,
    slop: int = 0,
):
    """Phrase scorer factory (Lucene ``PhraseQuery`` semantics over the
    v5 positional blobs): rows are (tid, block_id, block_min_dl, n,
    blob), co-located by block_id like the multi-term scorer, so every
    phrase term's postings for a doc-range block arrive together. One
    numpy pass per unit of whole blocks:

      decode (with positions) → for each query offset j holding term
      t_j, form keys ``slot * P + (pos − j)`` over t_j's positions →
      a key hit by ALL m offsets is a phrase occurrence starting at
      ``pos − j`` → per-doc phrase frequency via two np.unique passes →
      ``score = (Σ_j idf(t_j)) · tfn(phraseFreq, dl)`` — Lucene scores a
      phrase exactly like a single term whose tf is the phrase count and
      whose weight is the sum of the member idfs.

    ``tid_offsets``: [(tid, offset)] for every query position (a term
    appearing twice in the phrase contributes two offsets). ``k``:
    per-unit conservative candidate selection, same rounding-grid guard
    as the OR scorer.

    ``slop > 0`` switches to the sloppy matcher (Solr ``"a b"~N``):
    ORDERED proximity with a TOTAL gap budget — an anchor occurrence of
    the first query token at p₀ matches iff positions p₀<p₁<…<p_{m−1}
    of the remaining tokens exist with Σ(pⱼ−pⱼ₋₁−1) ≤ slop, i.e.
    p_{m−1} − p₀ ≤ m−1+slop. phraseFreq = matching anchors. Evaluated
    with a vectorized GREEDY chain (per step, the smallest next
    position via one searchsorted over the term's sorted slot·P+pos
    keys) — greedy minimizes every pⱼ, hence the final span, so it is
    exact for this criterion. (Deliberate simplification of Lucene's
    SloppyPhraseScorer, which also counts reordered matches and weights
    each by 1/(distance+1); ordered-greedy keeps an exact DuckDB/
    brute-force oracle. slop=0 degenerates to the exact matcher and
    uses the faster key-grid path.)
    """
    m = len(tid_offsets)

    def score(u):
        import numpy as np

        if u.doc_ids.size == 0:
            return None
        slot, n_slots, slot_docs = _slot_grid(u, block_size)
        slot_dl = np.zeros(n_slots, dtype=np.float64)
        slot_dl[slot] = u.dls  # same dl for every term of a doc
        # positions → their posting, term, slot
        tfs64 = u.tfs.astype(np.int64)
        tid_of_post = np.repeat(u.tids, u.counts)
        # doc-level presence intersection BEFORE position expansion:
        # a phrase occurrence needs every distinct term present in
        # the doc, so only slots hit by all dts.size tids can match.
        # Counting term-presence per slot costs a few bincount-style
        # passes over the POSTINGS (cheap); it shrinks the expensive
        # position-key build + np.unique from Σ tf positions to just
        # the intersected docs' positions — on hot multi-term
        # phrases the intersection is a few % of the corpus.
        dts = np.unique(np.array([t for t, _ in tid_offsets], dtype=np.int64))
        post_of_pos = np.repeat(np.arange(u.doc_ids.size, dtype=np.int64), tfs64)
        pos_use = u.positions
        if dts.size > 1:
            pres = np.zeros(n_slots, dtype=np.int8)
            hit = np.zeros(n_slots, dtype=bool)
            for t in dts:
                hit[:] = False
                hit[slot[tid_of_post == t]] = True
                pres += hit
            keep_post = pres[slot] == dts.size
            if not keep_post.any():
                return None
            kp = keep_post[post_of_pos]
            post_of_pos = post_of_pos[kp]
            pos_use = pos_use[kp]
        tid_of_p = tid_of_post[post_of_pos]
        P = np.int64(int(pos_use.max()) + m + 2 + slop) if pos_use.size else np.int64(
            m + 2 + slop
        )
        if slop == 0:
            keys_parts = []
            for tid_j, j in tid_offsets:
                pmask = tid_of_p == tid_j
                adj = pos_use[pmask] - j
                ok = adj >= 0  # a phrase can't start before the doc
                keys_parts.append(slot[post_of_pos[pmask]][ok] * P + adj[ok])
            keys = np.concatenate(keys_parts) if keys_parts else np.empty(0, np.int64)
            if keys.size == 0:
                return None
            uk, cnt = np.unique(keys, return_counts=True)
            full = uk[cnt == m]  # start positions hit by ALL offsets
            if full.size == 0:
                return None
            hit_slots, pf = np.unique(full // P, return_counts=True)
        else:
            # greedy ordered chain: per term, sorted slot·P+pos keys;
            # per step one searchsorted finds the smallest next
            # position in the same slot, then the total-budget check
            slot_of_p = slot[post_of_pos]
            term_keys = {}
            for tid_j, _ in tid_offsets:
                if tid_j not in term_keys:
                    pm = tid_of_p == tid_j
                    term_keys[tid_j] = np.sort(slot_of_p[pm] * P + pos_use[pm])
            t0, _ = tid_offsets[0]
            ak = term_keys[t0]
            a_slot, a_p0 = ak // P, ak % P
            cur = a_p0.copy()
            alive = np.ones(a_p0.size, dtype=bool)
            for step, (tid_j, _) in enumerate(tid_offsets[1:], 1):
                kt = term_keys[tid_j]
                ix = np.searchsorted(kt, a_slot * P + cur, side="right")
                ok = alive & (ix < kt.size)
                cand = kt[np.minimum(ix, kt.size - 1)]
                ok &= (cand // P == a_slot) & (
                    cand % P <= a_p0 + step + slop
                )
                cur = np.where(ok, cand % P, cur)
                alive = ok
                if not alive.any():
                    return None
            hit_slots, pf = np.unique(a_slot[alive], return_counts=True)
        s = idf_sum * _tfn_np(pf, slot_dl[hit_slots], avgdl, k1, b)
        return slot_docs(hit_slots), s

    return _scoring_kernel(
        block_size, score, True, with_positions=True, k=k, allowed=allowed
    )


def _make_decode_match_arrow(block_size: int, positions: bool = False, allowed=None):
    """Constant-score matcher (the filter rewrite of a large prefix
    expansion): every doc with a posting in the block-co-located rows,
    score 1.0 — one row per doc, since a unit holds whole blocks."""

    def score(u):
        import numpy as np

        docs = np.unique(u.doc_ids)
        return docs, np.ones(docs.size)

    return _scoring_kernel(block_size, score, positions, allowed=allowed)


def _make_decode_map_arrow(block_size: int, positions: bool = False):
    """mapInArrow decoder: block rows → already-EXPLODED (tid, doc_id,
    tf, dl) rows — no pandas conversion, no JVM-side arrays_zip/explode.
    On a positional index each posting also carries its positions as a
    list column — the shape overwrite/compaction need to re-encode a
    positional index losslessly."""

    def _decode(batches):
        import numpy as np
        import pyarrow as pa

        for u in _block_stream(batches, block_size, positions, with_positions=positions):
            cols = [
                pa.array(np.repeat(u.tids, u.counts), type=pa.int64()),
                pa.array(u.doc_ids, type=pa.int64()),
                pa.array(u.tfs, type=pa.int32()),
                pa.array(u.dls, type=pa.int32()),
            ]
            if positions:
                offsets = np.concatenate(([0], np.cumsum(u.tfs.astype(np.int64))))
                cols.append(pa.ListArray.from_arrays(
                    pa.array(offsets.astype(np.int32)),
                    pa.array(u.positions, type=pa.int32()),
                ))
            yield pa.RecordBatch.from_arrays(
                cols, names=["tid", "doc_id", "tf", "dl", "positions"][: len(cols)]
            )

    return _decode


def _decoded(postings: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(tid, doc_id, tf, dl [, positions]) rows from block rows;
    positional indexes decode their positions list so re-encoding
    consumers (overwrite, compaction) stay lossless."""
    pos_in = ["n"] if cfg.positions else []
    pos_out = ", positions array<int>" if cfg.positions else ""
    return postings.select("tid", "block_id", "block_min_dl", *pos_in, "blob").mapInArrow(
        _make_decode_map_arrow(cfg.block_size, cfg.positions),
        "tid long, doc_id long, tf int, dl int" + pos_out,
    )


def _buckets_for(tables: IndexTables, terms: list[str]) -> list[int]:
    """term → bucket driver-side (pure-Python XXH64 twin of Spark's
    xxhash64, tests/test_hashing.py) — no Spark job needed."""
    from oni_indexer_spark.hashing import term_bucket_py

    return sorted({term_bucket_py(t, tables.cfg.n_buckets) for t in terms})


def _arrow_schema(ddl: str):
    """Arrow schema for a simple DDL string (``"doc_id long, score
    double"``) — the kernels' output schemas and the query results'."""
    import pyarrow as pa

    types = {"int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
             "string": pa.string(), "binary": pa.binary()}
    return pa.schema([(n, types[t]) for n, t in (f.split() for f in ddl.split(","))])


def _local_df(spark, table) -> DataFrame:
    """A driver-held Arrow table as a LocalRelation: no job to build or
    to collect, doubles bit-exact. (``createDataFrame`` of Python rows
    parallelizes defaultParallelism slices — a 32-task job per collect,
    0.3s at local[32]; SQL ``VALUES`` text pays a parse per row.)"""
    return spark.createDataFrame(table)


def _as_df(spark, scored) -> DataFrame:
    """Either regime's scores as a DataFrame, for compositions with
    other tables (boolean joins, paging, grouping, fq semi-joins)."""
    return scored if isinstance(scored, DataFrame) else _local_df(spark, scored)


def _empty_literal(spark, schema: str) -> DataFrame:
    """Empty DataFrame with the given simple DDL schema — an empty
    LocalRelation that collects driver-only. Used by every zero-result
    fallback across the query surface."""
    return _local_df(spark, _arrow_schema(schema).empty_table())


def _empty_result(tables: IndexTables) -> DataFrame:
    return _empty_literal(
        tables.postings.sparkSession, "rank int, doc_id long, score double"
    )


# A single-term query whose posting list is at least this long decodes
# faster through the block-repartition path (32-way decode) than through
# the zero-shuffle scan-side path (decode parallelism = scan splits of
# one bucket). Measured at 1M docs: df≈1M term 1.9s scan-side vs 0.8s
# for 2M postings repartitioned.
SINGLE_TERM_REPARTITION_MIN_POSTINGS = 200_000

# Target decoded postings per reduce task of the block-aligned scorer.
# The numpy decode runs ~2-3M postings/s per core, so 64k postings is
# ~25ms of decode per task — enough to amortize task scheduling, small
# enough that a 2M-posting query still fans out over ~32 cores. The
# partition count is DERIVED from Σ df (known driver-side for free)
# instead of pinned to spark.sql.shuffle.partitions: a 5k-doc corpus
# gets 1-2 reduce tasks instead of 32 (32 near-empty tasks cost pure
# scheduling), while corpus-scale queries still clamp up to the
# session's shuffle width (guide §2: partitioning must be
# scale-adaptive, not tuned to either local mode or the cluster).
SCORER_POSTINGS_PER_PARTITION = 65_536

# Local-regime gate: a query whose Σ df fits one scorer partition runs
# its kernel ON THE DRIVER, not in a Python worker task. Every Python
# task pays PySpark's per-task ``importlib.invalidate_caches()``, which
# re-reads every zip on the worker path (166-356 ms per task on a
# 4-vCPU host, against ~1 ms of decode); no ``spark.python.*`` setting
# removes it. Only the ≤ Σ df pruned block rows reach the driver, and
# their scan keeps its normal parallelism. The gate stays at one
# partition because a local decode is serial: a 262k gate, measured for
# the single-task regime this one replaced, serialized decodes the
# exchange ran 2-4-wide (50k-doc 3-4-term queries regressed ~20%).
LOCAL_KERNEL_MAX_POSTINGS = 65_536

# Bound on the block rows one Searcher memoizes for the local regime
# (Searcher._local_rows; a cold term costs a driver read of its pinned
# postings files, 0 jobs, or with the Spark read one job): Σ df of the
# memoized terms, least recently used term evicted first. Sixteen
# local-sized queries' worth of postings. The memo holds the compressed
# block rows: 3.3 bytes per posting measured (perfbench query_small
# corpus, 5k docs, 13 terms, 47k postings in 520 block rows), so the
# bound is ~3.5 MB per Searcher.
_LOCAL_ROWS_MAX_POSTINGS = 16 * LOCAL_KERNEL_MAX_POSTINGS


# Gate of the driver read of index files (Searcher._pinned_table): a
# cold query reads corpus stats, its terms' dfs and (local regime) their
# postings with pyarrow from the files the tables pinned, instead of by
# Spark jobs, while the table's pinned file count and the selected
# files' bytes stay under these bounds. The byte bound depends on how a
# file is read (fsio.Fs.read_files): a ``file:`` URI by the local
# filesystem, any other scheme in 6,000-byte py4j replies. Crossovers
# measured with scripts/bench_metadata_read.py (4-vCPU host, local[4],
# synth index + a 10% append, medians; the Spark reads cost 45-55 ms
# for stats, 1 job, 124-1,007 ms for dfs, 2 jobs, 62-3,693 ms for
# postings, 1 job).
# - file: (BENCH/metadata_read_{1k,100k,1m}.json; every postings file
#   holds one row group at each scale):
#   - 1k docs (64 dfreq, 64 postings files): dfs of 1-32 terms driver
#     10-24 ms vs Spark 124-249 ms; postings 14-388 KB 9-33 vs 62-164.
#   - 100k (448 dfreq, 1,280 postings files): dfs 34 KB-1.09 MB 21-154
#     vs 207-719 ms; postings 1.7-59 MB 52-1,224 vs 150-1,692.
#   - 1M (1,152 dfreq, 3,072 postings files): dfs 0.2-7.1 MB 38-372 vs
#     198-1,007 ms; postings 17.9 MB 181 vs 243, 37.8 MB 346 vs 314
#     (parity), 155 MB 1,237 vs 1,339, 299 MB 2,222 vs 1,743.
# - py4j (the same runs before reads of ``file:`` URIs went local, in
#   the git history of those files): 1M dfreq 32 files / 734 KB 164 vs
#   267 ms, 64 / 1.47 MB 336 vs 351 (parity), 128 / 2.9 MB 786 vs 375.
# So each byte bound sits below its measured parity, and the file bound
# covers the 1M layout: listing its 4,226 pinned files (32 paths per
# py4j reply) takes 70 ms. Above the file bound the gate costs 2 round
# trips. The bytes are estimated as the table's mean file size × files
# selected, which is low for skewed files (a base segment beside a
# small append), so the read also stops once the bytes actually read
# pass the bound: a wrong estimate costs at most one bound of reading.
_PINNED_MAX_FILES = 4096
_PINNED_MAX_BYTES = 1 << 20  # read through py4j
_PINNED_MAX_LOCAL_BYTES = 24 << 20  # read from a file: URI


def _combine_stats(rows) -> tuple[int, float]:
    """``(N, avgdl)`` from stats rows ``(n_docs, avgdl)``: one row per
    build/append batch (a segment rewrite leaves one row; indexes written
    by earlier engines may hold signed correction rows from overwrite and
    delete). N is the integer sum and avgdl ``fsum(n·avgdl) / N``, so the
    result does not depend on file or row order."""
    import math

    rows = [(int(n), float(a)) for n, a in rows]
    n_docs = sum(n for n, _ in rows)
    return n_docs, (math.fsum(n * a for n, a in rows) / n_docs) if n_docs else 0.0


def _term_postings(tables: IndexTables, terms: list[str]) -> DataFrame:
    """The postings scan for ``terms`` — pruned by bucket directory
    (PartitionFilters) and by row-group min/max stats on tid (pushed
    In)."""
    from oni_indexer_spark.hashing import xxhash64_str

    buckets = _buckets_for(tables, terms)
    tids = [xxhash64_str(t) for t in terms]
    return tables.postings.where(F.col("bucket").isin(buckets) & F.col("tid").isin(tids))


def _fits_local(est_postings: int) -> bool:
    """The local-regime gate (read at call time: tests zero it)."""
    return est_postings <= LOCAL_KERNEL_MAX_POSTINGS


def _tid_slice(rows, terms):
    """The collected ``rows`` of ``terms`` only (a clause's share of a
    fused compound query's one scan)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from oni_indexer_spark.hashing import xxhash64_str

    tids = pa.array([xxhash64_str(t) for t in terms], type=pa.int64())
    return rows.filter(pc.is_in(rows["tid"], value_set=tids))


def _keep_blocks(p, blocks):
    """The rows of ``p`` whose block_id is in ``blocks`` (a lossless
    block prefilter). ``blocks`` is a block_id DataFrame or a driver
    array. A scan is broadcast semi-joined against it (an array becomes
    an Arrow LocalRelation); collected rows take a pyarrow ``is_in``,
    which needs an array."""
    import pyarrow as pa

    if isinstance(p, DataFrame):
        if not isinstance(blocks, DataFrame):
            blocks = _local_df(p.sparkSession, pa.table(
                {"block_id": pa.array(blocks, type=pa.int64())}))
        return p.join(F.broadcast(blocks), "block_id", "left_semi")
    import pyarrow.compute as pc

    return p.filter(pc.is_in(p["block_id"], value_set=pa.array(blocks, type=pa.int64())))


def _scorer_nparts(spark, est_postings: int | None) -> int:
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if est_postings is None:
        return conf_parts
    return max(1, min(conf_parts, -(-int(est_postings) // SCORER_POSTINGS_PER_PARTITION)))


class _DocSet:
    """A SORTED doc_id array that filters inside a kernel (a selective
    fq's matches, a rerank window). A driver-side kernel reads the
    array in place; Spark kernels read one broadcast of it, built on
    first use."""

    def __init__(self, ids):
        self.ids = ids
        self._bc = None

    def broadcast(self, sc):
        if self._bc is None:
            self._bc = sc.broadcast(self.ids)
        return self._bc


def _run_kernel(
    sel: DataFrame,
    make_kernel,
    schema: str,
    est_postings: int | None,
    allowed: _DocSet | None = None,
    colocate: bool = True,
    nparts: int | None = None,
):
    """The one place a query-time kernel meets Spark. ``sel`` is the
    pruned block-row scan, or the block rows of the local regime as a
    ``pa.Table`` (:meth:`Searcher._local_rows`, after any block
    prefilters); ``make_kernel(allowed)`` builds the kernel (Arrow
    batches → ``schema`` batches) around the doc-set filter in the form
    its regime reads; ``colocate`` says the kernel needs each doc-range
    block's rows for all terms contiguous (every kernel but the
    single-term scorer).

    - local — ``sel`` is a ``pa.Table``: a block_id sort in pyarrow,
      the kernel on the driver. Returns its output as a ``pa.Table``
      (reduce it on the driver too, or hand it to Spark with
      :func:`_as_df`).
    - exchange(n) — ``sel`` is a DataFrame: ``mapInArrow`` tasks, after
      (when ``colocate``) a hash repartition by block_id at the Σ
      df-derived width (:func:`_scorer_nparts` of ``est_postings``; an
      explicit ``nparts`` sets the width, e.g. the pruner's ≤k-block
      pass). The width is EXPLICIT: AQE would coalesce a plain
      repartition(col) of a few MB of blobs to ~1 partition and
      serialize the decode (measured at 1M docs). Returns a
      DataFrame."""
    if not isinstance(sel, DataFrame):
        import pyarrow as pa

        if colocate:
            sel = sel.sort_by("block_id")  # stable: tids keep their order
        kernel = make_kernel(None if allowed is None else allowed.ids)
        return pa.Table.from_batches(
            list(kernel(sel.to_batches())), schema=_arrow_schema(schema)
        )
    spark = sel.sparkSession
    if allowed is not None:
        allowed = allowed.broadcast(spark.sparkContext)
    if colocate:
        if nparts is None:
            nparts = _scorer_nparts(spark, est_postings)
        sel = sel.repartition(nparts, F.col("block_id")).sortWithinPartitions("block_id")
    return sel.mapInArrow(make_kernel(allowed), schema)


def _scores(
    postings_subset,
    tables: IndexTables,
    idf: dict[int, float],
    avgdl: float,
    mode: str,
    fq: dict[str, str] | None,
    k: int | None = None,
    floor: float | None = None,
    est_postings: int | None = None,
    nparts: int | None = None,
    allowed: _DocSet | None = None,
):
    """Exact (doc_id, score) for every doc present in the postings
    subset (a scan, or the local regime's block rows) — a ``pa.Table``
    for rows, else a DataFrame (see :func:`_run_kernel`). ``idf`` is
    keyed by tid (the postings key).
    ``k`` (when given) enables per-batch conservative candidate
    selection — it must be the query's final top-k. ``floor`` is the
    pruned path's pass-1 τ (docs provably below it round under the kth
    score and may be dropped). ``est_postings`` (Σ df, known
    driver-side for free) routes large single-term queries through the
    repartition path and sizes the exchange; ``nparts`` sets the
    exchange width. ``allowed`` (Searcher._fq_docs)
    pushes a selective fq INTO the kernel so candidate selection stays
    on; without it an fq disables per-batch selection (every matching
    doc's total leaves the kernel) and is applied by a doclen semi-join
    afterwards."""
    cfg = tables.cfg
    # an fq runs in-kernel only as a doc set; without one, fq filters
    # AFTER scoring — a selected candidate set could lose its top rows
    # to the filter, so selection is off and every matching doc's total
    # leaves the kernel for the doclen semi-join below
    k_sel = k if (fq is None or allowed is not None) else None
    pos_cols = ["n"] if cfg.positions else []
    if len(idf) == 1 and (
        est_postings is None or est_postings < SINGLE_TERM_REPARTITION_MIN_POSTINGS
    ):
        # single term: per-posting score IS the per-doc score, so the
        # unsorted scan decodes+scores in one numpy pass — no shuffle,
        # no aggregate (terms over the repartition threshold take the
        # block-aligned path below for decode parallelism)
        (idf_val,) = idf.values()
        scored = _run_kernel(
            postings_subset.select(["block_id", "block_min_dl", *pos_cols, "blob"]),
            lambda allowed: _make_decode_score_topk_arrow(
                cfg.block_size, float(idf_val), float(avgdl), cfg.k1, cfg.b, k_sel,
                positions=cfg.positions, allowed=allowed, floor=floor,
            ),
            "doc_id long, score double",
            est_postings, allowed, colocate=False, nparts=nparts,
        )
    else:
        # block-aligned path: co-located compressed block rows; exact
        # per-doc totals + AND/τ/top-k selection happen in numpy inside
        # the kernel (no decoded-row shuffle, no JVM agg)
        scored = _run_kernel(
            postings_subset.select(["tid", "block_id", "block_min_dl", *pos_cols, "blob"]),
            lambda allowed: _make_decode_score_group_arrow(
                cfg.block_size,
                {int(t): float(v) for t, v in idf.items()},
                float(avgdl),
                cfg.k1,
                cfg.b,
                len(idf) if mode == "and" else None,
                k_sel,
                floor,
                positions=cfg.positions,
                allowed=allowed,
            ),
            "doc_id long, score double",
            est_postings, allowed, nparts=nparts,
        )
    if fq and allowed is None:
        keep = _fq_keep(tables.doclen, fq)
        scored = _as_df(tables.postings.sparkSession, scored).join(
            keep.select("doc_id"), "doc_id", "left_semi"
        )
    return scored


def _ranked_arrow(scored, k: int):
    """Driver twin of the Spark top-k in :func:`_ranked` over a local
    (Arrow) result: the first ``k`` rows on (round(score, 6) desc,
    doc_id asc), numbered from 1."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow as pa

    docs = scored.column("doc_id").to_numpy()
    s = scored.column("score").to_numpy()
    if s.size > k:
        # the exact key below is per-row Python: first drop rows that
        # cannot reach the top k (numpy's rounding is within 1e-6 of the
        # exact key, so every top-k row is within 3e-6 of the kth)
        approx = np.round(s, 6)
        kth = np.partition(approx, s.size - k)[s.size - k]
        keep = approx >= kth - 3e-6
        docs, s = docs[keep], s[keep]
    # Spark's round(x, 6) is BigDecimal.valueOf(x).setScale(6, HALF_UP):
    # the SHORTEST decimal form rounded half-up, not the binary value
    # half-even as in Python and numpy (they differ at 7th-decimal
    # half-way points such as 5e-7)
    q = Decimal("0.000001")
    keys = [Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP) for x in s]
    order = sorted(range(s.size), key=lambda i: (-keys[i], docs[i]))[:k]
    return pa.table(
        [
            pa.array(np.arange(1, len(order) + 1), type=pa.int32()),
            pa.array(docs[order], type=pa.int64()),
            pa.array(s[order], type=pa.float64()),
        ],
        schema=_arrow_schema("rank int, doc_id long, score double"),
    )


def _combine_arrow(must: list, should: list, nots: list):
    """Driver twin of the boolean combine in :meth:`Searcher.search`
    over local clause results (``(doc_id, score)`` tables, one row per
    doc): MUST parts intersect on doc_id and add their scores, SHOULD
    parts union and sum (added to the MUST total where present), NOT
    parts remove their docs. At least one MUST or SHOULD part."""
    import numpy as np
    import pyarrow as pa

    def cols(t):
        return t.column("doc_id").to_numpy(), t.column("score").to_numpy()

    sh_docs = sh = None
    if should:
        docs = np.concatenate([cols(t)[0] for t in should])
        scores = np.concatenate([cols(t)[1] for t in should])
        sh_docs, inv = np.unique(docs, return_inverse=True)
        sh = np.bincount(inv, weights=scores, minlength=sh_docs.size)
    if must:
        docs, s = cols(must[0])
        for t in must[1:]:
            d2, s2 = cols(t)
            docs, i, j = np.intersect1d(docs, d2, assume_unique=True, return_indices=True)
            s = s[i] + s2[j]
        if should and sh_docs.size:
            pos = np.minimum(np.searchsorted(sh_docs, docs), sh_docs.size - 1)
            s = s + np.where(sh_docs[pos] == docs, sh[pos], 0.0)
    else:
        docs, s = sh_docs, sh
    for t in nots:
        keep = ~np.isin(docs, t.column("doc_id").to_numpy())
        docs, s = docs[keep], s[keep]
    return pa.table(
        [pa.array(docs, type=pa.int64()), pa.array(s, type=pa.float64())],
        schema=_arrow_schema("doc_id long, score double"),
    )


def _ranked(spark, scored, k: int) -> DataFrame:
    """Top-k with deterministic tie-break: rank on (round(score,6) desc,
    doc_id asc). Rounding first makes ranking robust to non-associative
    float summation (engine vs oracle agree bit-for-bit after round).
    A local (Arrow) result is ranked on the driver
    (:func:`_ranked_arrow`) and comes back as a LocalRelation; a
    DataFrame is ranked by Spark, fused to 3 DataFrame ops
    (orderBy/limit/select — each extra op costs driver-side py4j plan
    construction)."""
    if not isinstance(scored, DataFrame):
        return _local_df(spark, _ranked_arrow(scored, k))
    from pyspark.sql import Window as W

    order = [F.desc(F.round("score", 6)), F.asc("doc_id")]
    w = W.orderBy(*order)
    return (
        scored.orderBy(*order)
        .limit(k)
        .select(F.row_number().over(w).alias("rank"), "doc_id", "score")
    )


class CacheInfo(NamedTuple):
    """:meth:`Searcher.cache_info` — the block-row memo's counters."""

    hits: int
    misses: int
    evictions: int
    postings: int  # Σ df of the memoized terms


class Searcher:
    """Query handle over an index. It memoizes what a query reads before
    it scores: corpus ``(N, avgdl)`` (:meth:`stats`), term dfs
    (:meth:`term_dfs`), fq doc sets, prefix/fuzzy expansions and the
    local regime's block rows (:meth:`_local_rows`). Over an index on
    disk, stats, dfs and those block rows are read on the driver from
    the parquet files the tables pinned at ``read_index``
    (:meth:`_pinned_table`), so they cost no Spark job; an in-memory or
    cached index, or files over the driver-read gate, are read with
    Spark.

    ``prune_cost_threshold``: block-max pruning pays a pass-1 job (~0.5-1s
    fixed on the measured host); the 32-way block-aligned decode runs
    ~2-3M postings/sec, so pruning only wins once it can SKIP several
    million postings. ``prune='auto'`` therefore prunes only when
    Σ df(term) exceeds this (default 3M — at the 10^12-doc north-star
    scale every stop-word-bearing query clears it immediately).

    STALENESS: everything memoized — corpus stats, term dfs, fq doc
    sets, prefix/fuzzy expansions, the local regime's block rows
    (:meth:`_local_rows`) and the stats/dfreq file lists the driver
    reads (:meth:`_pinned_table`) — describes the tables as of the last
    freshness check, and :meth:`invalidate` drops all of it. The file
    lists are the ones the tables' DataFrames pinned, never a fresh
    listing, so stats and dfs always describe the files the postings
    scan reads; a re-opened tables object pins, and lists, new ones. In-process
    mutators (append / overwrite / delete / compact) call the
    module-level :func:`invalidate_searchers` hook. For OUT-OF-PROCESS
    writers (another driver writing the same path — invisible to this
    registry) every query method first reads the index's generation
    token (``_lineage/_generation``, rewritten with a fresh nonce by
    every writer, ``build_to_path`` included, as its last step, and by
    every applied staged swap) through one kept :class:`Lineage` handle,
    compares its CONTENT with the token memoized with the caches, and on
    any change invalidates and re-opens the tables. That is one small file read,
    ≤ 6 py4j round trips. An index without a token (written before
    tokens existed) falls back to comparing its ``_lineage`` directory
    listing (name/mtime/size per record).

    WHEN A QUERY RUNS: a local-regime query (Σ df ≤
    ``LOCAL_KERNEL_MAX_POSTINGS`` — see the module docstring) does its
    work when :meth:`topk` (or any query method) is CALLED: its block
    rows are read (only the terms not memoized yet) and scored then,
    and the returned DataFrame is a LocalRelation whose ``collect()``
    runs no job. So a cold small query on a fresh Searcher over an
    index on disk runs 0 Spark jobs (stats, dfs and block rows are
    driver reads; 1 job, the postings collect, when the block rows take
    the Spark read) and a warm repeat runs none. Prefix/fuzzy
    expansion and fq doc sets still cost their own jobs on first use.
    Exchange-regime queries stay lazy until ``collect()``. Either way a
    result describes the index as of the call.
    """

    # an fq matching at most this many docs ships as a sorted doc_id
    # array into the kernels (8 B/doc → ≤16 MB broadcast at the
    # default); above it, the kernel emits all matching totals and a
    # doclen semi-join applies the filter (the pre-r5 behavior)
    FQ_PUSHDOWN_MAX_DOCS = 2_000_000

    # rarest-term block prefilter bound (AND/phrase queries): the
    # broadcast block list has ≤ min_df entries, so the same 16 MB
    # ceiling as fq pushdown applies
    RARE_BLOCK_MAX_DF = 2_000_000

    def __init__(self, tables: IndexTables, prune_cost_threshold: int = 3_000_000):
        self.tables = tables
        self.prune_cost_threshold = prune_cost_threshold
        self.fq_pushdown_max_docs = self.FQ_PUSHDOWN_MAX_DOCS
        self._stats: tuple[int, float] | None = None
        self._df_cache: dict[str, int] = {}
        self._fq_cache: dict[tuple, tuple[int, _DocSet | None]] = {}
        self._expansions: dict[tuple, list] = {}
        # table name → (the files its DataFrame pinned, their mean
        # size), or None over the gate; see _pinned_table
        self._pinned: dict[str, tuple[list[str], float] | None] = {}
        # local-regime block rows per tid → (rows, df), least recently
        # used first; see _local_rows
        self._rows: OrderedDict[int, tuple] = OrderedDict()
        self._rows_postings = 0
        self._rows_hits = self._rows_misses = self._rows_evictions = 0
        self._lineage = None  # one handle, made on the first check
        self._generation: bytes | tuple | None = None  # token or listing

    def _fq_docs(self, fq: dict | None) -> tuple[DataFrame | None, _DocSet | None]:
        """``(empty, allowed)`` for an optional fq. ``empty`` is the empty
        result when the filter matches no doc (callers return it as is),
        else None. ``allowed`` is the filter's :class:`_DocSet` when it
        is selective enough to ship into the kernels (≤
        fq_pushdown_max_docs), else None. Memoized per filter (r4
        VERDICT #4: fq selectivity is knowable driver-side from the
        doclen metadata for the cost of one count)."""
        if fq is None:
            return None, None
        key = tuple(sorted(fq.items()))
        hit = self._fq_cache.get(key)
        if hit is None:
            keep = _fq_keep(self.tables.doclen, fq)
            cnt = keep.count()
            docs = None
            if 0 < cnt <= self.fq_pushdown_max_docs:
                import numpy as np

                ids = keep.select("doc_id").toArrow().column("doc_id").to_numpy()
                docs = _DocSet(np.sort(ids))
            hit = (cnt, docs)
            self._fq_cache[key] = hit
        cnt, docs = hit
        return (_empty_result(self.tables) if cnt == 0 else None), docs

    def _fs(self):
        """The index path's :class:`Fs` handle, through the Searcher's one
        kept :class:`Lineage` handle (made on first use)."""
        if self._lineage is None:
            from oni_indexer_spark.index.lineage import Lineage

            self._lineage = Lineage(self.tables.stats.sparkSession, self.tables.path)
        return self._lineage.fs

    def _read_generation(self):
        """The index's generation token, or for an index without one its
        ``_lineage`` listing."""
        self._fs()
        lin = self._lineage
        token = lin.read_generation()
        return token if token is not None else tuple(sorted(lin.fs.list_status(lin.dir)))

    def _check_external_staleness(self) -> None:
        if self.tables.path is None:
            return
        gen = self._read_generation()
        if self._generation is None:
            self._generation = gen
        elif gen != self._generation:
            # drop every memo AND re-open the tables: the old DataFrames
            # pin the file listing captured at read time, so an
            # out-of-process write would otherwise serve stale
            # postings/stats even after the cache flush
            from oni_indexer_spark.index.build import read_index

            self.invalidate()
            self.tables = read_index(
                self.tables.stats.sparkSession, self.tables.path
            )
            self._generation = gen

    def invalidate(self) -> None:
        """Drop every memo (corpus stats, term dfs, fq doc sets,
        expansions, block rows) AND refresh Spark's cached file listing
        for the backing path (a parquet DataFrame pins the file index
        captured at read time — without the refresh, re-collected
        stats/df would still read the pre-append files, and actions
        after an overwrite's directory swap would fail on deleted
        files). The refresh needs tables.path (set by read_index); for
        ad-hoc IndexTables objects, open a fresh one via read_index."""
        self._stats = None
        self._df_cache.clear()
        self._fq_cache.clear()
        self._expansions.clear()
        self._pinned.clear()
        self._rows.clear()
        self._rows_postings = 0
        if self.tables.path is not None:
            self.tables.stats.sparkSession.catalog.refreshByPath(self.tables.path)

    def cache_info(self) -> CacheInfo:
        """Counters of the block-row memo (:meth:`_local_rows`), in the
        style of ``functools.lru_cache``: per-term hits and misses and
        evictions since the Searcher was made, and the Σ df of the
        terms memoized now (≤ ``_LOCAL_ROWS_MAX_POSTINGS``)."""
        return CacheInfo(
            self._rows_hits, self._rows_misses, self._rows_evictions,
            self._rows_postings,
        )

    def _local_rows(self, dfs: dict[str, int]):
        """The local regime's block rows ``(tid, block_id, block_min_dl[,
        n], blob)`` of the terms in ``dfs`` (term → df) as one
        ``pa.Table`` — the only way a local query gets its rows. Rows
        are memoized per term: the terms not memoized yet are read in
        one go — on the driver from the pinned postings files of their
        buckets (:meth:`_pinned_table`, no Spark job), else by ONE
        pruned scan collected as Arrow (one JVM job) — and split by
        tid. The table is assembled from the memo in one canonical order
        (tid, then block_id, then the other columns) on every call and
        either read, so a repeat scores bit-identically to the first
        call. The memo keeps Σ df ≤ ``_LOCAL_ROWS_MAX_POSTINGS``,
        evicting the least recently used term first."""
        import numpy as np
        import pyarrow as pa

        from oni_indexer_spark.hashing import xxhash64_str

        by_tid = {xxhash64_str(t): t for t in dfs}
        missing = {tid: t for tid, t in by_tid.items() if tid not in self._rows}
        self._rows_misses += len(missing)
        self._rows_hits += len(by_tid) - len(missing)
        if missing:
            terms = list(missing.values())
            pos = ", n int" if self.tables.cfg.positions else ""
            ddl = f"tid long, block_id long, block_min_dl int{pos}, blob binary"
            got = self._pinned_table("postings", ddl, _buckets_for(self.tables, terms))
            got = (
                _term_postings(self.tables, terms).select(*_arrow_schema(ddl).names).toArrow()
                if got is None else _tid_slice(got, terms)
            )
            # every column a sort key: rows of one (tid, block_id) from
            # two segments come in file order, which differs per read
            got = got.sort_by([(c, "ascending") for c in got.column_names])
            tids = got["tid"].to_numpy()
            for tid, t in missing.items():
                lo = np.searchsorted(tids, tid, side="left")
                hi = np.searchsorted(tids, tid, side="right")
                # a copy per term, so evicting it frees its buffers
                self._rows[tid] = (got.take(np.arange(lo, hi)), dfs[t])
                self._rows_postings += dfs[t]
        for tid in by_tid:
            self._rows.move_to_end(tid)
        out = pa.concat_tables([self._rows[tid][0] for tid in sorted(by_tid)])
        while self._rows_postings > _LOCAL_ROWS_MAX_POSTINGS:
            _, (_, df) = self._rows.popitem(last=False)
            self._rows_postings -= df
            self._rows_evictions += 1
        return out

    def _pinned_table(self, name: str, ddl: str, buckets=None):
        """``tables.<name>`` (``stats``, ``dfreq`` or ``postings``) read
        on the driver as one ``pa.Table`` of the ``ddl`` columns — the
        one driver reader of index files — or None when the caller keeps
        its Spark read: an in-memory table (no path), a cached one (its
        plan shows no file), over ``_PINNED_MAX_FILES`` pinned files, or
        over ``_PINNED_MAX_BYTES`` selected (``_PINNED_MAX_LOCAL_BYTES``
        for ``file:`` URIs) — estimated from the mean file size, and
        checked again on the bytes actually read, which stop at the
        bound (file sizes are skewed). It reads
        only the files the table's DataFrame pinned at ``read_index``
        (its ``inputFiles()``), so it sees exactly the files a Spark
        scan would. The list and the table's mean file size (from the
        relation's ``sizeInBytes``, which Spark summed at
        ``read_index``) are memoized per Searcher generation, so the
        gate costs no round trip per file. ``buckets`` selects the
        ``bucket=<b>/`` directories (dfreq, postings); none pinned gives
        an empty table.
        ``pq.ParquetFile`` reads a file in a quarter of the time
        ``pq.read_table`` takes (0.5 vs 2.1 ms, 1.3 KB dfreq file)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self.tables.path is None:
            return None
        if name not in self._pinned:
            jdf = getattr(self.tables, name)._jdf
            jfiles = jdf.inputFiles()
            n_files = len(jfiles)  # one round trip
            # none visible (a cached DataFrame's plan reads the cache,
            # not files) or over the gate: the Spark read stays
            pinned = None
            if 0 < n_files <= _PINNED_MAX_FILES:
                # joined in the JVM, 32 paths per reply: two round trips
                # per 32 files, and no reply over py4j's stall size
                # (fsio.PY4J_CHUNK_BYTES)
                jvm = self.tables.stats.sparkSession._jvm
                seq = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(jfiles)
                files = [
                    f for i in range(0, n_files, 32)
                    for f in seq.slice(i, i + 32).mkString("\n").split("\n")
                ]
                size = jdf.queryExecution().analyzed().stats().sizeInBytes()
                pinned = (files, int(size) / n_files)
            self._pinned[name] = pinned
        if self._pinned[name] is None:
            return None
        files, file_bytes = self._pinned[name]
        max_bytes = (
            _PINNED_MAX_LOCAL_BYTES if files[0].startswith("file:") else _PINNED_MAX_BYTES
        )
        if buckets is not None:
            dirs = {f"bucket={b}" for b in buckets}
            files = [f for f in files if dirs.intersection(f.split("/"))]
        if len(files) * file_bytes > max_bytes:
            return None
        blobs = self._fs().read_files(files, max_bytes)
        if blobs is None:  # the mean size understated these files
            return None
        schema = _arrow_schema(ddl)
        parts = [
            pq.ParquetFile(pa.BufferReader(b)).read(columns=schema.names).cast(schema)
            for b in blobs
        ]
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def stats(self) -> tuple[int, float]:
        """Corpus ``(N, avgdl)`` over every stats row
        (:func:`_combine_stats`), read once per Searcher generation."""
        if self._stats is None:
            got = self._pinned_table("stats", "n_docs long, avgdl double")
            if got is None:
                rows = [(r["n_docs"], r["avgdl"]) for r in self.tables.stats.collect()]
            else:
                rows = zip(got["n_docs"].to_pylist(), got["avgdl"].to_pylist())
            self._stats = _combine_stats(rows)
        return self._stats

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df of each term of ``terms`` present in the index (df summed
        over appended segments), memoized per term."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            buckets = _buckets_for(self.tables, missing)
            got = self._pinned_table("dfreq", "term string, df long", buckets)
            if got is None:
                rows = (
                    self.tables.dfreq.where(
                        F.col("bucket").isin(buckets) & F.col("term").isin(missing)
                    )
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
            else:
                import pyarrow as pa
                import pyarrow.compute as pc

                got = got.filter(pc.is_in(got["term"], value_set=pa.array(missing, pa.string())))
                summed = got.group_by("term").aggregate([("df", "sum")])
                found = dict(zip(summed["term"].to_pylist(), summed["df_sum"].to_pylist()))
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms if self._df_cache[t] > 0}

    def _rare_block_prefilter(self, p, dfs: dict[str, int], n_docs: int):
        """Lossless block prefilter for conjunctive queries (AND mode,
        phrases): blocks are global doc-ranges (block_id = doc_id //
        block_size), so every term of a matching doc lands in the SAME
        block — a block missing the rarest term cannot produce a match.
        When the rarest term is selective, keep only its blocks BEFORE
        the decode: a scan is semi-joined against its block list
        (broadcast, ≤ min_df ids) ahead of the block_id shuffle; collected
        rows (local regime) are filtered in pyarrow. Hot-term blobs in
        rare-term-free blocks are never shuffled or decoded. At
        north-star scale this turns a rare∧hot conjunction from "decode
        the hot term's postings" into "decode only the rare term's
        blocks".

        Gated off when the rare term hits most blocks anyway (no blocks
        to skip — the uniform-corpus / all-stop-words case) or when the
        broadcast would exceed RARE_BLOCK_MAX_DF ids."""
        if len(dfs) < 2:
            return p
        rows = None if isinstance(p, DataFrame) else p
        rare_blocks = self._rare_blocks(dfs, n_docs, rows)
        return p if rare_blocks is None else _keep_blocks(p, rare_blocks)

    def _rare_blocks(self, dfs: dict[str, int], n_docs: int, rows=None):
        """Block list of the rarest term in ``dfs`` when it is selective
        enough to prune with, else None — the shared engine behind the
        conjunctive prefilter and the boolean compositor's cross-clause
        MUST-block pushdown. A block_id DataFrame (a distinct over the
        term's scan), or, given collected ``rows`` holding the term, a
        sorted block_id array read from them."""
        min_term = min(dfs, key=lambda t: dfs[t])
        min_df = dfs[min_term]
        n_blocks_est = max(1, n_docs // self.tables.cfg.block_size)
        if min_df >= n_blocks_est // 2 or min_df > self.RARE_BLOCK_MAX_DF:
            return None
        if rows is None:
            return _term_postings(self.tables, [min_term]).select("block_id").distinct()
        import numpy as np

        return np.unique(_tid_slice(rows, [min_term]).column("block_id").to_numpy())

    def _block_rows(self, dfs: dict[str, int]):
        """The block rows of the terms in ``dfs`` (term → df) in the
        regime Σ df picks: :meth:`_local_rows` when it fits
        ``LOCAL_KERNEL_MAX_POSTINGS``, else the pruned scan."""
        if _fits_local(sum(dfs.values())):
            return self._local_rows(dfs)
        return _term_postings(self.tables, list(dfs))

    def _clause_rows(
        self, dfs: dict[str, int], conjunctive: bool, block_filter=None, rows=None
    ):
        """The block rows one term-set clause scores, block prefilters
        applied: the rarest-term prefilter when ``conjunctive`` (AND,
        phrase), then ``block_filter`` (cross-clause MUST blocks, a
        rerank window). Given ``rows`` (the block rows of a fused
        compound query) it is their tid slice; a local-sized clause (Σ
        df ≤ ``LOCAL_KERNEL_MAX_POSTINGS``) takes its own
        :meth:`_local_rows`; either way the prefilters run in pyarrow (a
        DataFrame ``block_filter`` is collected to an array first).
        Otherwise it is the pruned scan and the prefilters are broadcast
        semi-joins."""
        p = self._block_rows(dfs) if rows is None else _tid_slice(rows, dfs)
        if isinstance(block_filter, DataFrame) and not isinstance(p, DataFrame):
            block_filter = block_filter.toArrow().column("block_id").to_numpy()
        if conjunctive:
            p = self._rare_block_prefilter(p, dfs, self.stats()[0])
        return p if block_filter is None else _keep_blocks(p, block_filter)

    def topk(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        fq: dict[str, str] | None = None,
        prune: bool | str = "auto",
        slop: int = 0,
    ) -> DataFrame:
        """Rank-ordered top-k ``(rank, doc_id, score)`` for a free-text
        query. ``mode='or'`` is Solr's default q.op; ``mode='and'``
        requires all terms; ``mode='phrase'`` matches the exact token
        sequence (quoted-phrase queries — needs a positional index),
        with ``slop`` allowing up to N total gap tokens between the
        ordered terms (Solr ``"a b"~N``); ``fq`` is exact-match metadata
        drill-down (C9). ``prune``: True / False / 'auto'
        (cost-based)."""
        self._check_external_staleness()
        if mode == "phrase":
            return self._phrase_topk(query, k, fq=fq, slop=slop)
        if slop:
            raise ValueError("slop only applies to mode='phrase'")
        tables = self.tables
        terms = query_terms(query, tables.cfg.analyzer)
        if not terms:
            return _empty_result(tables)
        dfs = self.term_dfs(terms)
        if not dfs or (mode == "and" and len(dfs) < len(terms)):
            return _empty_result(tables)
        return self._topk_from_dfs(dfs, k=k, mode=mode, fq=fq, prune=prune)

    def _idf_by_tid(
        self, dfs: dict[str, int], weights: dict[str, float] | None = None
    ) -> dict[int, float]:
        """Lucene idf per present term, scaled by its weight (expansion
        boosts), keyed by tid — postings are tid-keyed, and term → tid is
        the driver-side xxhash64 twin (tests/test_hashing.py), no Spark
        job."""
        import math

        from oni_indexer_spark.hashing import xxhash64_str

        n_docs, _ = self.stats()
        return {
            xxhash64_str(t): (weights[t] if weights else 1.0)
            * math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()
        }

    def _topk_from_dfs(
        self,
        dfs: dict[str, int],
        k: int,
        mode: str = "or",
        fq: dict | None = None,
        prune: bool | str = "auto",
        weights: dict[str, float] | None = None,
        exclude_doc_id: int | None = None,
    ) -> DataFrame:
        """Shared scoring tail for every term-set query (free-text OR/AND,
        prefix- and fuzzy-expanded, more-like-this). ``dfs`` maps present
        terms to their document frequency; ``weights`` (expansion boosts,
        e.g. fuzzy similarity) multiply each term's idf — the scorers are
        untouched, a weighted query is just a different idf dict.
        ``exclude_doc_id`` drops one doc before ranking (MLT excludes its
        source doc) — a plain filter, no join."""
        empty, allowed = self._fq_docs(fq)
        if empty is not None:
            return empty
        tables = self.tables
        spark = tables.postings.sparkSession
        _, avgdl = self.stats()
        idf = self._idf_by_tid(dfs, weights)
        est = sum(dfs.values())
        if prune == "auto":
            prune = est > self.prune_cost_threshold
        # excluding a doc means the (k+1)-th candidate can rise into the
        # top-k, so every k-bounded stage (pass-1 τ, per-batch candidate
        # selection) must run at k+1 before the filter drops the doc
        k_eff = k + 1 if exclude_doc_id is not None else k
        floor = nparts = None
        if prune and mode == "or" and fq is None:
            p, floor = _blockmax_prune(
                _term_postings(tables, list(dfs)), tables, idf, avgdl, k_eff
            )
            # pruning is the large-query plan ('auto' prunes far above
            # the local gate), so a pruned query keeps the exchange
            nparts = _scorer_nparts(spark, est)
        else:
            p = self._clause_rows(dfs, conjunctive=mode == "and")
        scored = _scores(
            p, tables, idf, avgdl, mode, fq, k=k_eff, floor=floor,
            est_postings=est, nparts=nparts, allowed=allowed,
        )
        if exclude_doc_id is not None:
            if isinstance(scored, DataFrame):
                scored = scored.where(F.col("doc_id") != F.lit(exclude_doc_id))
            else:
                import pyarrow.compute as pc

                scored = scored.filter(pc.not_equal(scored["doc_id"], exclude_doc_id))
        return _ranked(spark, scored, k)

    def _clause_scores(
        self,
        dfs: dict[str, int],
        mode: str = "or",
        weights: dict[str, float] | None = None,
        fq: dict | None = None,
        allowed: _DocSet | None = None,
        block_filter=None,
        rows=None,
    ):
        """Unranked exact (doc_id, score) for one term-set clause of a
        boolean query — the k=None twin of ``_topk_from_dfs`` (no τ
        pruning, no per-batch candidate selection: clause totals combine
        with OTHER clauses downstream, so every matching doc's total
        must leave the kernel). Single-clause queries should use the
        k-bounded ``_topk_from_dfs`` instead. ``block_filter`` and
        ``rows``: see :meth:`_clause_rows`. Like :func:`_scores`, a
        ``pa.Table`` in the local regime, else a DataFrame (callers that
        compose it in Spark take it through :func:`_as_df`)."""
        _, avgdl = self.stats()
        return _scores(
            self._clause_rows(dfs, mode == "and", block_filter, rows),
            self.tables, self._idf_by_tid(dfs, weights), avgdl, mode, fq,
            k=None, est_postings=sum(dfs.values()), allowed=allowed,
        )

    def _expansion(
        self, kind: str, tok: str, edits: int, max_prefix_terms: int,
        max_fuzzy_terms: int,
    ) -> tuple[dict[str, int], dict[str, float]]:
        """(dfs, weights) for a prefix/fuzzy clause inside a boolean
        query — same expansion rules as prefix_topk / fuzzy_topk."""
        if kind == "prefix":
            exp = self.expand_prefix(tok, max_terms=max_prefix_terms)
            return {t: d for t, d in exp}, {t: 1.0 for t, _ in exp}
        exp = self.expand_fuzzy(tok, max_edits=edits, max_terms=max_fuzzy_terms)
        return (
            {t: d for t, d, _ in exp},
            {t: 1.0 - ed / min(len(t), len(tok)) for t, _, ed in exp},
        )

    def search(
        self,
        query: str,
        k: int = 10,
        prune: bool | str = "auto",
        max_prefix_terms: int = 128,
        max_fuzzy_terms: int = 64,
    ) -> DataFrame:
        """Lucene-lite boolean search over a user-typed query string —
        the Solr portal's actual input surface (the reference sends the
        portal's query box to Solr's lucene parser over ``main_search``,
        ``portal_base.json:18-23``). Grammar and exact semantics:
        ``query/parser.py``; in short — ``+must -not should``, quoted
        phrases (``"a b"~N``), wildcards (``pre*``), fuzzy (``word~1``),
        metadata filters (``lang:en``, ``-lang:fr``, ``dl:[5 TO 100]``),
        AND/OR/NOT keyword sugar. Score = Lucene BooleanQuery: sum of
        matching MUST + SHOULD clause scores; MUST clauses are required,
        MUST_NOT excluded, filters restrict results only.

        Physical shape: single-clause queries dispatch to the k-bounded
        fast paths (topk / phrase / prefix / fuzzy — pruning + per-batch
        candidate selection stay on). Compound queries run one k=None
        scoring pass PER CLAUSE GROUP (all MUST terms fuse into one
        AND pass, all SHOULD terms + expansions fuse into one weighted
        OR pass; each phrase is its own pass), then combine on doc_id:
        inner joins across MUST clauses, one union+sum for SHOULD,
        left-anti for MUST_NOT. Clause outputs are (doc_id, score)
        pairs bounded by each clause's match count — the combination
        shuffles at most Σ|clause matches| rows, never the corpus; a
        selective filter ships into every pass as a doc set (the fq
        pushdown), an unselective one is applied once as a single
        doclen semi-join on the combined result.

        Two regimes. Local — Σ df over the union of the clause terms
        (MUST, SHOULD, NOT, phrase tokens, expanded prefix/fuzzy terms)
        fits ``LOCAL_KERNEL_MAX_POSTINGS`` and any filter is a doc set:
        ONE set of block rows for that union (:meth:`_local_rows`: the
        query's only Spark job, none when warm), each pass's kernel runs on the driver over its tid slice, the
        MUST-block and rarest-term prefilters are pyarrow ``is_in``s on
        block_id, and the combine is :func:`_combine_arrow`. Otherwise
        each pass is its own pruned scan (semi-joined by broadcast block
        lists) and the combine is the Spark plan of joins above."""
        self._check_external_staleness()
        from functools import reduce

        from oni_indexer_spark.analyzer import analyzer_tokenize_py
        from oni_indexer_spark.query.parser import parse_query

        tables = self.tables
        spark = tables.postings.sparkSession
        pq = parse_query(query)
        an = tables.cfg.analyzer
        fq = pq.filters or None

        # analyze clause bodies (the analyzer is an index property);
        # multi-token terms explode into one term per token (Solr q.op
        # behavior), 1-token phrases rewrite to terms (Lucene)
        # per-occur term weights: each analyzed token of a term clause
        # adds the clause's ^boost (multiplicity and boosts both fold
        # into the idf weight — Lucene sums equal clauses' scores)
        terms: dict[str, dict[str, float]] = {"must": {}, "should": {}, "not": {}}
        phrases: list[tuple[str, list[str], int, float]] = []
        expansions: list[tuple[str, str, str, str, int, float]] = []
        for c in pq.clauses:
            toks = analyzer_tokenize_py(c.text, an)
            if not toks:
                continue
            if c.kind == "phrase" and len(toks) >= 2:
                phrases.append((c.occur, toks, c.slop, c.boost))
            elif c.kind in ("prefix", "fuzzy"):
                # keep BOTH the raw body (fast paths re-analyze inside
                # prefix_topk/fuzzy_topk — exactly one analysis) and the
                # analyzed token (general path — matches the oracle,
                # which analyzes once); stemming analyzers need not be
                # idempotent, so never analyze twice
                expansions.append((c.occur, c.kind, c.text, toks[0], c.slop, c.boost))
            else:
                w = terms[c.occur]
                for t in toks:
                    w[t] = w.get(t, 0.0) + c.boost

        # ---- single-clause fast paths (keep pruning / k-bounded selection)
        n_pos = (
            (1 if terms["must"] else 0)
            + (1 if terms["should"] else 0)
            + sum(1 for o, *_ in phrases if o != "not")
            + sum(1 for o, *_ in expansions if o != "not")
        )
        no_not = not terms["not"] and not any(
            o == "not" for o, *_ in phrases
        ) and not any(o == "not" for o, *_ in expansions)
        if n_pos == 1 and no_not:
            if terms["should"] and not phrases and not expansions:
                w = terms["should"]
                dfs = self.term_dfs(list(w))
                if not dfs:
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="or", fq=fq, prune=prune,
                    weights={t: w[t] for t in dfs},
                )
            if terms["must"] and not phrases and not expansions:
                w = terms["must"]
                dfs = self.term_dfs(list(w))
                if len(dfs) < len(w):
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="and", fq=fq, prune=prune,
                    weights={t: w[t] for t in dfs},
                )
            if len(phrases) == 1 and not expansions:
                _, toks, slop, boost = phrases[0]
                empty, allowed = self._fq_docs(fq)
                if empty is not None:
                    return empty
                scored = self._phrase_scores(
                    toks,
                    k if (fq is None or allowed is not None) else None,
                    fq=fq, allowed=allowed, slop=slop, boost=boost,
                )
                if scored is None:
                    return _empty_result(tables)
                return _ranked(spark, scored, k)
            if len(expansions) == 1 and not phrases:
                _, kind, raw, _tok, edits, boost = expansions[0]
                if boost == 1.0:
                    if kind == "prefix":
                        return self.prefix_topk(raw, k=k, fq=fq, prune=prune,
                                                max_terms=max_prefix_terms)
                    return self.fuzzy_topk(raw, k=k, max_edits=edits, fq=fq,
                                           prune=prune, max_terms=max_fuzzy_terms)
                dfs, ws = self._expansion(kind, _tok, edits, max_prefix_terms,
                                          max_fuzzy_terms)
                if not dfs:
                    return _empty_result(tables)
                return self._topk_from_dfs(
                    dfs, k=k, mode="or", fq=fq, prune=prune,
                    weights={t: w * boost for t, w in ws.items()},
                )

        # ---- general boolean compositor
        empty, allowed = self._fq_docs(fq)
        if empty is not None:
            return empty
        # push the filter into every positive pass only when it runs
        # in-kernel (a doc set); otherwise apply ONE semi-join at the end
        clause_fq = fq if allowed is not None else None

        # resolve every clause's terms before any scan: an absent MUST
        # term or phrase token (or an empty MUST expansion) empties the
        # result, and the union of all clause terms picks the regime
        must_dfs = self.term_dfs(list(terms["must"]))
        if len(must_dfs) < len(terms["must"]):
            return _empty_result(tables)
        live_phrases = []  # (occ, toks, slop, boost, dfs): every token present
        for occ, toks, slop, boost in phrases:
            dfs = self.term_dfs(sorted(set(toks)))
            if len(dfs) == len(set(toks)):
                live_phrases.append((occ, toks, slop, boost, dfs))
            elif occ == "must":
                return _empty_result(tables)
        sh_w = dict(terms["should"])
        exp_parts = []  # (occ, dfs, weights) of the MUST and NOT expansions
        for occ, kind, _raw, tok, edits, boost in expansions:
            dfs, ws = self._expansion(kind, tok, edits, max_prefix_terms,
                                      max_fuzzy_terms)
            if occ == "should":
                for t, wt in ws.items():
                    sh_w[t] = sh_w.get(t, 0.0) + wt * boost
            elif dfs:
                exp_parts.append((occ, dfs, {t: w * boost for t, w in ws.items()}))
            elif occ == "must":
                return _empty_result(tables)
        sh_dfs = self.term_dfs(list(sh_w))
        not_dfs = self.term_dfs(list(terms["not"]))
        if not (must_dfs or sh_dfs or any(o == "must" for o, *_ in exp_parts)
                or any(o != "not" for o, *_ in live_phrases)):
            return _empty_result(tables)

        # local regime: when Σ df over the union of every clause's terms
        # fits the local gate, ONE set of block rows feeds every clause
        # kernel on the driver and the clauses combine there too (an
        # unselective fq keeps its doclen semi-join, a Spark plan)
        union = {**must_dfs, **sh_dfs, **not_dfs}
        for *_, dfs in live_phrases:
            union.update(dfs)
        for _, dfs, _ in exp_parts:
            union.update(dfs)
        rows = None
        if (fq is None or allowed is not None) and _fits_local(sum(union.values())):
            rows = self._local_rows(union)

        # cross-clause MUST-block pushdown: every result doc contains
        # every MUST term and every token of every MUST phrase, so the
        # rarest such token's block list (blocks are global doc-ranges)
        # losslessly bounds EVERY pass — most valuable for the SHOULD
        # pass, whose hot terms would otherwise emit corpus-sized totals
        # that the MUST join then throws away.
        required = dict(must_dfs)
        for occ, *_, dfs in live_phrases:
            if occ == "must":
                required.update(dfs)
        must_blocks = (
            self._rare_blocks(required, self.stats()[0], rows) if required else None
        )

        parts: dict[str, list] = {"must": [], "should": [], "not": []}
        if must_dfs:
            parts["must"].append(self._clause_scores(
                must_dfs, mode="and", weights=terms["must"], fq=clause_fq,
                allowed=allowed, block_filter=must_blocks, rows=rows))
        if sh_dfs:
            parts["should"].append(self._clause_scores(
                sh_dfs, mode="or", weights={t: sh_w[t] for t in sh_dfs},
                fq=clause_fq, allowed=allowed, block_filter=must_blocks, rows=rows))
        if not_dfs:
            parts["not"].append(self._clause_scores(
                not_dfs, mode="or", block_filter=must_blocks, rows=rows))
        for occ, toks, slop, boost, _ in live_phrases:
            pos = occ != "not"
            parts[occ].append(self._phrase_scores(
                toks, None, fq=clause_fq if pos else None,
                allowed=allowed if pos else None, slop=slop, boost=boost,
                block_filter=must_blocks if pos else None, rows=rows))
        for occ, dfs, ws in exp_parts:
            if occ == "must":
                parts["must"].append(self._clause_scores(
                    dfs, mode="or", weights=ws, fq=clause_fq, allowed=allowed,
                    block_filter=must_blocks, rows=rows))
            else:
                parts["not"].append(self._clause_scores(dfs, mode="or", rows=rows))
        if rows is not None:
            return _ranked(spark, _combine_arrow(parts["must"], parts["should"], parts["not"]), k)

        must_parts, should_parts = (
            [_as_df(spark, d) for d in parts[o]] for o in ("must", "should")
        )
        if must_parts:
            base = must_parts[0]
            for d in must_parts[1:]:
                base = base.join(
                    d.withColumnRenamed("score", "score_r"), "doc_id"
                ).select(
                    "doc_id",
                    (F.col("score") + F.col("score_r")).alias("score"),
                )
            if should_parts:
                sh = reduce(DataFrame.unionByName, should_parts)
                sh_sum = sh.groupBy("doc_id").agg(F.sum("score").alias("sh"))
                base = base.join(sh_sum, "doc_id", "left").select(
                    "doc_id",
                    (F.col("score") + F.coalesce(F.col("sh"), F.lit(0.0)))
                    .alias("score"),
                )
        else:
            base = (
                reduce(DataFrame.unionByName, should_parts)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        for ns in parts["not"]:
            base = base.join(_as_df(spark, ns).select("doc_id"), "doc_id", "left_anti")
        if fq is not None and allowed is None:
            base = base.join(
                _fq_keep(tables.doclen, fq).select("doc_id"), "doc_id",
                "left_semi",
            )
        return _ranked(spark, base, k)

    def expand_prefix(
        self, prefix: str, max_terms: int = 128
    ) -> list[tuple[str, int]]:
        """Term-dictionary expansion for a trailing-wildcard query
        (Solr/Lucene ``PrefixQuery``, e.g. ``ha*``). Returns up to
        ``max_terms`` ``(term, df)`` pairs ordered by (df desc, term
        asc) — Lucene's ``TopTermsScoringBooleanQueryRewrite`` keeps the
        highest-df expansions under ``maxClauseCount``; the (df, term)
        order makes the cut deterministic on ties.

        Scale shape: this is a scan of the dfreq table (the term
        dictionary — vocabulary-sized, orders of magnitude smaller than
        postings) with a ``StartsWith`` filter that pushes down to the
        parquet reader; dfreq files are written sorted by term within
        each bucket (index/build.py) so rowgroup min/max stats prune
        non-matching rowgroups. Output is TakeOrdered-bounded at
        ``max_terms`` rows — nothing unbounded reaches the driver.
        Memoized per Searcher by its arguments (:meth:`_expanded`)."""

        def expand():
            return [
                (r["term"], int(r["df"]))
                for r in self.tables.dfreq.where(F.col("term").startswith(prefix))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))  # sum over appended segments
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(max_terms)
                .collect()
            ]

        return self._expanded(("prefix", prefix, max_terms), expand)

    def _expanded(self, key: tuple, expand) -> list:
        """``expand()``'s term list, memoized under ``key`` until
        :meth:`invalidate`; its ``(term, df, ...)`` entries also warm the
        df memo for any follow-up query."""
        out = self._expansions.get(key)
        if out is None:
            out = self._expansions[key] = expand()
            for t, d, *_ in out:
                self._df_cache.setdefault(t, d)
        return list(out)

    # Lucene's CONSTANT_SCORE_BLENDED_REWRITE threshold: expansions of
    # ≤ 16 terms score a real BooleanQuery; larger ones build a filter
    # bitset with constant score. Scoring a 128-clause hot-term OR costs
    # ~7x a plain multi-term query (measured at 50k docs); the constant
    # path is one distinct + TakeOrdered.
    PREFIX_SCORING_MAX_TERMS = 16

    def prefix_topk(
        self,
        prefix: str,
        k: int = 10,
        max_terms: int = 128,
        fq: dict | None = None,
        prune: bool | str = "auto",
        rewrite: str = "auto",
    ) -> DataFrame:
        """Top-k for a trailing-wildcard query ``prefix*``: expand
        against the term dictionary, then — mirroring Lucene's
        CONSTANT_SCORE_BLENDED_REWRITE — score a BM25 OR over the
        expansion when it is small (each matched term keeps its own
        idf), or fall back to a constant-score match (score 1.0, ties →
        doc_id asc) when the expansion exceeds
        ``PREFIX_SCORING_MAX_TERMS``. ``rewrite`` forces a mode
        ("scoring" / "constant"); "auto" applies the threshold. The
        reference's Solr portal serves wildcard queries over
        ``main_search``; this is that surface on the native index."""
        self._check_external_staleness()
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        toks = analyzer_tokenize_py(prefix, self.tables.cfg.analyzer)
        if not toks:
            return _empty_result(self.tables)
        expansion = self.expand_prefix(toks[0], max_terms=max_terms)
        if not expansion:
            return _empty_result(self.tables)
        if rewrite == "auto":
            rewrite = (
                "scoring"
                if len(expansion) <= self.PREFIX_SCORING_MAX_TERMS
                else "constant"
            )
        if rewrite == "scoring":
            return self._topk_from_dfs(dict(expansion), k=k, fq=fq, prune=prune)
        if rewrite != "constant":
            raise ValueError(f"unknown rewrite: {rewrite!r}")
        return self._constant_score_topk(dict(expansion), k=k, fq=fq)

    def _constant_score_topk(
        self, dfs: dict[str, int], k: int, fq: dict | None = None
    ) -> DataFrame:
        """Constant-score union (Lucene's multi-term filter rewrite):
        every doc containing ≥1 expanded term scores 1.0; top-k is the k
        lowest doc_ids of the union — the deterministic analogue of
        Lucene's early-terminating docid-order collector. Early
        termination, Spark-shaped: blocks are DISJOINT global doc
        ranges and a (tid, block_id) row exists only if the term has ≥1
        posting there, so the k smallest distinct block_ids in the
        pruned scan are guaranteed to contain ≥ k distinct matching
        docs, all smaller than any doc in a later block — restricting
        the decode to those k blocks is lossless. Without the bound the
        path decoded the full union and shuffled it through distinct:
        measured 8.6 s for a 128-term hot expansion at 1M docs; with it
        the decode touches ≤ k·|terms| blobs at ANY corpus size. (An fq
        invalidates the ≥k-docs guarantee — filtered docs don't count —
        so the bound is applied only when fq is None.)

        The decode is a :func:`_run_kernel` kernel: a local-sized
        expansion decodes on the driver, its k-lowest-blocks bound read
        from its block rows (:meth:`_local_rows`). A selective fq filters inside the
        kernel (:meth:`_fq_docs`); an unselective one is a doclen
        semi-join."""
        import numpy as np

        empty, allowed = self._fq_docs(fq)
        if empty is not None:
            return empty
        tables = self.tables
        cfg = tables.cfg
        spark = tables.postings.sparkSession
        p = self._clause_rows(dfs, conjunctive=False)
        if fq is None:
            if isinstance(p, DataFrame):
                low_blocks = (
                    p.select("block_id").distinct().orderBy(F.asc("block_id")).limit(k)
                )
            else:
                low_blocks = np.unique(p.column("block_id").to_numpy())[:k]
            p = _keep_blocks(p, low_blocks)
        pos_cols = ["n"] if cfg.positions else []
        matched = _run_kernel(
            p.select(["block_id", "block_min_dl", *pos_cols, "blob"]),
            lambda allowed: _make_decode_match_arrow(
                cfg.block_size, cfg.positions, allowed=allowed
            ),
            "doc_id long, score double",
            sum(dfs.values()), allowed,
        )
        if fq and allowed is None:
            matched = _as_df(spark, matched).join(
                _fq_keep(tables.doclen, fq).select("doc_id"), "doc_id", "left_semi"
            )
        if not isinstance(matched, DataFrame):
            import pyarrow as pa

            docs = np.sort(matched.column("doc_id").to_numpy())[:k]
            return _local_df(spark, pa.table(
                [
                    pa.array(np.arange(1, docs.size + 1), type=pa.int32()),
                    pa.array(docs, type=pa.int64()),
                    pa.array(np.ones(docs.size), type=pa.float64()),
                ],
                schema=_arrow_schema("rank int, doc_id long, score double"),
            ))
        from pyspark.sql import Window as W

        w = W.orderBy(F.asc("doc_id"))
        return (
            matched.orderBy(F.asc("doc_id"))
            .limit(k)
            .select(
                F.row_number().over(w).alias("rank"),
                "doc_id",
                F.lit(1.0).alias("score"),
            )
        )

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
    ) -> list[tuple[str, int, int]]:
        """Levenshtein expansion (Lucene ``FuzzyQuery`` shape): dictionary
        terms within ``max_edits`` classic Levenshtein edits of ``term``
        (no transpositions — deliberately the classic metric so Spark's
        ``levenshtein`` and DuckDB's ``levenshtein`` are exact twins;
        Lucene itself uses Damerau-Levenshtein), sharing a
        ``prefix_len``-char prefix (Lucene's prefixLength). Returns up
        to ``max_terms`` ``(term, df, edit_distance)`` by (df desc, term
        asc).

        Scale shape: the dictionary scan is bounded by two pushed-down
        predicates before the levenshtein evaluation ever runs — the
        shared prefix (StartsWith → sorted-rowgroup pruning) and the
        ±max_edits length band; levenshtein itself is a JVM builtin
        inside whole-stage codegen, evaluated only on the surviving
        sliver of the vocabulary. Memoized per Searcher by its arguments
        (:meth:`_expanded`)."""
        pre = term[:prefix_len]
        n = len(term)

        def expand():
            cand = self.tables.dfreq.where(
                F.col("term").startswith(pre)
                & F.length("term").between(n - max_edits, n + max_edits)
                & (F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
            )
            return [
                (r["term"], int(r["df"]), _levenshtein_py(r["term"], term))
                for r in cand.groupBy("term")
                .agg(F.sum("df").alias("df"))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(max_terms)
                .collect()
            ]

        return self._expanded(("fuzzy", term, max_edits, prefix_len, max_terms), expand)

    def fuzzy_topk(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 1,
        prefix_len: int = 1,
        max_terms: int = 64,
        fq: dict | None = None,
        prune: bool | str = "auto",
    ) -> DataFrame:
        """Top-k for a fuzzy query ``term~``: expand within ``max_edits``
        and score as a WEIGHTED BM25 OR — each expanded term's idf is
        scaled by Lucene's fuzzy boost ``1 − ed / min(|term|, |query|)``
        (exact match keeps weight 1). The weight folds into the idf dict
        driver-side; the distributed scorers are byte-identical to the
        plain OR path."""
        self._check_external_staleness()
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        toks = analyzer_tokenize_py(term, self.tables.cfg.analyzer)
        if not toks:
            return _empty_result(self.tables)
        q = toks[0]
        expansion = self.expand_fuzzy(
            q, max_edits=max_edits, prefix_len=prefix_len, max_terms=max_terms
        )
        if not expansion:
            return _empty_result(self.tables)
        dfs = {t: d for t, d, _ in expansion}
        weights = {
            t: 1.0 - ed / min(len(t), len(q)) for t, _, ed in expansion
        }
        return self._topk_from_dfs(
            dfs, k=k, fq=fq, prune=prune, weights=weights
        )

    def _phrase_topk(
        self, query: str, k: int, fq: dict[str, str] | None = None, slop: int = 0
    ) -> DataFrame:
        """Quoted-phrase top-k (Solr/Lucene ``PhraseQuery`` over
        ``main_search`` — the query shape ``portal_base.json:18-23``
        serves that the OR/AND engine couldn't). Needs an index built
        with ``IndexConfig.positions=True`` (v5).

        Scoring is Lucene's: the phrase behaves as one pseudo-term whose
        tf is the exact phrase occurrence count and whose idf weight is
        ``Σ_j idf(term_j)`` over the query positions (duplicate terms
        contribute once per position). Physical plan = the multi-term
        block-aligned shape: bucket/tid-pruned scan → rarest-term block
        prefilter (lossless semi-join, _rare_block_prefilter) → ONE
        repartition of compressed blobs by block_id → numpy decode →
        doc-level term-presence intersection → position-key
        intersection + per-batch candidate top-k → TakeOrdered. No
        block-max τ pruning (the OR bound is valid but pass-1 would
        need phrase scoring of candidate blocks to set τ — the two
        intersections capture most of that win without the extra job).
        A local-sized phrase (Σ df ≤ ``LOCAL_KERNEL_MAX_POSTINGS``)
        takes its block rows from :meth:`Searcher._local_rows` and runs
        the prefilter (a pyarrow filter), the kernel and the top-k on
        the driver: one job, none when its rows are memoized.

        ``fq`` composes exactly as in the OR/AND path (Solr: fq
        restricts results, stats untouched): selective filters ship as
        a sorted doc_id array into the kernel so per-batch candidate
        selection stays on; unselective filters disable selection and
        apply as a doclen semi-join after scoring."""
        tables = self.tables
        cfg = tables.cfg
        if not cfg.positions:
            raise ValueError(
                "phrase queries need a positional index "
                "(build with IndexConfig(positions=True))"
            )
        from oni_indexer_spark.analyzer import analyzer_tokenize_py

        qtoks = analyzer_tokenize_py(query, cfg.analyzer)
        if not qtoks:
            return _empty_result(tables)
        empty, allowed = self._fq_docs(fq)
        if empty is not None:
            return empty
        if len(qtoks) == 1:
            # Lucene's 1-term rewrite (fq rides along unchanged)
            return self.topk(query, k=k, mode="or", fq=fq)
        scored = self._phrase_scores(
            qtoks,
            # same rule as _scores: only keep per-batch candidate
            # selection on when the filter runs in-kernel
            k if (fq is None or allowed is not None) else None,
            fq=fq,
            allowed=allowed,
            slop=slop,
        )
        if scored is None:
            return _empty_result(tables)
        return _ranked(tables.postings.sparkSession, scored, k)

    def _phrase_scores(
        self,
        qtoks: list[str],
        k_sel: int | None,
        fq: dict | None = None,
        allowed: _DocSet | None = None,
        slop: int = 0,
        boost: float = 1.0,
        block_filter=None,
        rows=None,
    ):
        """Unranked exact phrase scores (doc_id, score) for an ANALYZED
        token sequence (len ≥ 2), or ``None`` when a query term is
        absent from the dictionary (no phrase can match). ``k_sel``
        enables per-batch candidate selection — pass it ONLY when this
        clause alone determines the final ranking (a boolean compositor
        must pass None: clause totals combine downstream, so every
        matching doc's total has to leave the kernel). ``fq`` composes
        as in ``_scores``: a doc set filters in-kernel, an unselective
        filter becomes a doclen semi-join here. ``block_filter`` and
        ``rows``: see :meth:`_clause_rows`. Like ``_scores``, a
        ``pa.Table`` in the local regime, else a DataFrame."""
        import math

        tables = self.tables
        cfg = tables.cfg
        from oni_indexer_spark.hashing import xxhash64_str

        distinct = sorted(set(qtoks))
        dfs = self.term_dfs(distinct)
        if len(dfs) < len(distinct):
            return None  # a missing term → no phrase match
        n_docs, avgdl = self.stats()
        idf = {
            t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)) for t, d in dfs.items()
        }
        idf_sum = float(sum(idf[t] for t in qtoks)) * boost
        tid_offsets = [(xxhash64_str(t), j) for j, t in enumerate(qtoks)]
        p = self._clause_rows(dfs, True, block_filter, rows)
        # Σ df of the phrase's distinct terms bounds the decoded volume
        scored = _run_kernel(
            p.select(["tid", "block_id", "block_min_dl", "n", "blob"]),
            lambda allowed: _make_decode_phrase_group_arrow(
                cfg.block_size, tid_offsets, idf_sum, float(avgdl), cfg.k1, cfg.b,
                k_sel,
                allowed=allowed,
                slop=slop,
            ),
            "doc_id long, score double",
            sum(dfs.values()), allowed,
        )
        if fq and allowed is None:
            keep = _fq_keep(tables.doclen, fq)
            scored = _as_df(tables.postings.sparkSession, scored).join(
                keep.select("doc_id"), "doc_id", "left_semi"
            )
        return scored


# Module-level convenience: one cached Searcher per IndexTables instance,
# bounded LRU (strong refs keep the id() keys valid; the bound stops
# repeated read_index+topk loops from leaking IndexTables objects).
_SEARCHERS: dict[int, tuple[IndexTables, Searcher]] = {}
_SEARCHERS_MAX = 8


def searcher_for(tables: IndexTables) -> Searcher:
    hit = _SEARCHERS.pop(id(tables), None)
    if hit is None or hit[0] is not tables:
        hit = (tables, Searcher(tables))
    _SEARCHERS[id(tables)] = hit  # re-insert = move to MRU end
    while len(_SEARCHERS) > _SEARCHERS_MAX:
        _SEARCHERS.pop(next(iter(_SEARCHERS)))
    return hit[1]


def invalidate_searchers(path: str | None = None) -> None:
    """Drop all memoized stats/dfs — called by the mutators
    (append_to_index / overwrite_docs) so a Searcher over a tables object
    whose backing path just changed re-reads N/avgdl/df on its next
    query. Each Searcher whose tables carry a path also refreshes Spark's
    cached file listing; ``path`` additionally refreshes the mutated
    directory itself, covering IndexTables objects that never went
    through searcher_for."""
    for _, s in _SEARCHERS.values():
        s.invalidate()
    if path is not None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.catalog.refreshByPath(path)


def topk(
    tables: IndexTables,
    query: str,
    k: int = 10,
    mode: str = "or",
    fq: dict[str, str] | None = None,
    prune: bool | str = "auto",
    slop: int = 0,
) -> DataFrame:
    """Functional façade over :class:`Searcher` (stats/df cached)."""
    return searcher_for(tables).topk(
        query, k=k, mode=mode, fq=fq, prune=prune, slop=slop
    )


def search(tables: IndexTables, query: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.search` (Lucene-lite
    boolean query strings — see query/parser.py for the grammar)."""
    return searcher_for(tables).search(query, k=k, **kw)


def prefix_topk(tables: IndexTables, prefix: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.prefix_topk`."""
    return searcher_for(tables).prefix_topk(prefix, k=k, **kw)


def fuzzy_topk(tables: IndexTables, term: str, k: int = 10, **kw) -> DataFrame:
    """Functional façade over :meth:`Searcher.fuzzy_topk`."""
    return searcher_for(tables).fuzzy_topk(term, k=k, **kw)


def _levenshtein_py(a: str, b: str) -> int:
    """Classic Levenshtein DP — the exact metric Spark's ``levenshtein``
    and DuckDB's ``levenshtein`` implement (insert/delete/substitute,
    no transpositions). Driver-side twin used only to weight the ≤
    ``max_terms`` expanded terms of a fuzzy query."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def snippet_topk(
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    k: int = 10,
    window: int = 5,
) -> DataFrame:
    """Solr-style highlighting: top-k BM25 docs with a snippet — the
    (2·window+1)-token slice of the ANALYZED token stream centred on the
    first occurrence of the query's first term (Solr ``hl=true`` over
    ``main_search``; Lucene's highlighter likewise re-analyzes the stored
    field). Anchoring on the first term and falling back to the leading
    tokens when it is absent (an OR-mode doc matched on other terms)
    makes the snippet a deterministic function of (content, query) that
    the DuckDB oracle reproduces exactly (oracle.snippet_topk_sql).

    Scale shape: ranking reuses the full index path; the snippet pass
    joins the k-row result (broadcast) against the document store and
    computes the slice with JVM builtins (array_position / slice) inside
    whole-stage codegen — one corpus scan, no Python, output bounded at
    k rows. ``docs`` is the corpus DataFrame (the index stores no
    content — same separation as Solr's stored fields)."""
    from oni_indexer_spark.analyzer import analyzer_tokens

    analyzer = tables.cfg.analyzer
    terms = query_terms(query, analyzer)
    top = topk(tables, query, k=k)
    if not terms:
        return top.withColumn("snippet", F.lit(None).cast("string"))
    anchor = terms[0]
    toks = analyzer_tokens("content", analyzer)
    pos = F.array_position(toks, anchor)  # 1-based; 0 when absent
    start = F.when(pos > 0, F.greatest(F.lit(1), pos - window)).otherwise(F.lit(1))
    snip = F.concat_ws(" ", F.slice(toks, start, 2 * window + 1))
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select("rank", "doc_id", "score", snip.alias("snippet"))
        .orderBy("rank")
    )


def more_like_this(
    tables: IndexTables,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    max_terms: int = 5,
) -> DataFrame:
    """Solr ``MoreLikeThis``: rank documents similar to a target doc by
    building an OR query from the target's ``max_terms`` most
    interesting terms — ranked by tf·idf exactly as Solr's MLT handler
    ranks "interesting terms" — excluding the source doc from the
    result. Ties in the tf·idf interestingness score break by term asc
    so the selected term set is deterministic (oracle:
    oracle.mlt_topk_sql).

    Scale shape: fetching the target is a single-row pushdown lookup on
    the doc store (Solr's MLT handler likewise reads the source doc);
    term ranking is driver-side arithmetic over that one doc's tf vector
    plus one dfreq probe (term_dfs — bounded, memoized); scoring reuses
    the block-aligned OR path at k+1 with a post-scoring ``doc_id !=``
    filter (no join)."""
    import math
    from collections import Counter

    from oni_indexer_spark.analyzer import analyzer_tokenize_py

    s = searcher_for(tables)
    s._check_external_staleness()
    rows = docs.where(F.col("doc_id") == doc_id).select("content").collect()
    if not rows:
        return _empty_result(tables)
    toks = analyzer_tokenize_py(rows[0]["content"], tables.cfg.analyzer)
    if not toks:
        return _empty_result(tables)
    tf = Counter(toks)
    dfs = s.term_dfs(sorted(tf))
    if not dfs:
        return _empty_result(tables)
    n_docs, _ = s.stats()

    def interest(t: str) -> float:
        return tf[t] * math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))

    sel = sorted(dfs, key=lambda t: (-interest(t), t))[:max_terms]
    return s._topk_from_dfs(
        {t: dfs[t] for t in sel}, k=k, exclude_doc_id=doc_id
    )


def _blockmax_prune(
    p: DataFrame,
    tables: IndexTables,
    idf: dict[int, float],
    avgdl: float,
    k: int,
) -> tuple[DataFrame, float | None]:
    """Lossless block-max pruning (the Spark-native analogue of Lucene's
    block-max WAND, SURVEY.md §4.2.3). Returns (pruned postings, τ) —
    τ is None when no threshold could be established (fewer than k
    candidate docs) and nothing was pruned.

    Blocks are global doc-ranges, so a doc's total score is bounded by
    Σ_t idf_t · tfn(block_max_tf, block_min_dl) — BM25 saturation is
    increasing in tf and decreasing in dl, so evaluating it at the
    block's max tf / min dl under the current avgdl upper-bounds every
    posting in the block (and stays valid across appended segments).
    Pass 1 scores just enough highest-bound blocks to get a candidate
    kth score τ (one 1-row collect — a scalar at any scale); the final
    pass keeps only blocks whose bound ≥ τ, and τ also rides into the
    scorer as a per-DOC floor (multi-term path), cutting the candidate
    rows that leave the worker. Any dropped doc scores < τ ≤ true kth
    score, so the top-k is unchanged (tests/test_wand.py).

    Scale shape: the τ candidate set is the top-k blocks by bound — a
    TakeOrderedAndProject (every block holds ≥1 posting, so k blocks
    always cover ≥ k docs). At 10^12 docs a hot term has ~10^10 blocks;
    all stages here are partial-agg + TakeOrdered + a 1-row aggregate
    collect, nothing funnels through one task.

    Rounding guard: final ranking orders by (round(score,6), doc_id), so
    a pruned doc whose raw score rounds INTO a tie with the kth score
    could win the doc_id tie-break. Blocks are kept at
    ub ≥ round(τ,6) − 1e-6 — conservative below the rounding grid.
    """
    cfg = tables.cfg
    idf_map = F.create_map(*[F.lit(x) for kv in idf.items() for x in kv])
    block_ub = idf_map[F.col("tid")] * tfn_expr(
        F.col("block_max_tf"), F.col("block_min_dl"), avgdl, cfg.k1, cfg.b
    )
    bounds = (
        p.withColumn("ub1", block_ub)
        .groupBy("block_id")
        .agg(F.sum("ub1").alias("ub"))
    )
    cand_blocks = bounds.orderBy(F.desc("ub"), F.asc("block_id")).limit(k).select("block_id")
    # candidate set is <= k blocks — a handful of rows; a narrow
    # repartition avoids paying the full python-worker fan-out for it
    cand_scores = _scores(
        p.join(F.broadcast(cand_blocks), "block_id", "left_semi"),
        tables, idf, avgdl, "or", None, k=k, nparts=4,
    )
    # ONE pass-1 action: τ (kth candidate score) and the global min block
    # bound ride in the same 1x1 crossJoin — two 1-row aggregates, one
    # job (each extra driver round-trip costs ~0.5s of fixed scheduling
    # on the measured host, the dominant term of pass-1).
    tau_agg = (
        cand_scores.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .agg(F.count(F.lit(1)).alias("nk"), F.min("score").alias("tau"))
    )
    row = tau_agg.crossJoin(bounds.agg(F.min("ub").alias("mn"))).collect()[0]
    if int(row["nk"]) < k or row["tau"] is None:
        return p, None
    tau = float(row["tau"])
    guard = round(tau, 6) - 1e-6
    # Tie-heavy corpora (every block bound ~equal — the uniform synthetic
    # corpus, stop-word-only queries) would keep EVERY block: the keep
    # semi-join + its metadata rescan would cost real time and prune
    # nothing; τ still rides into the scorer as the per-doc floor.
    if row["mn"] is not None and float(row["mn"]) >= guard:
        return p, tau  # no block falls below τ — floor-only pruning
    keep = bounds.where(F.col("ub") >= guard).select("block_id")
    return p.join(F.broadcast(keep), "block_id", "left_semi"), tau


def topk_fields(
    tables: IndexTables,
    docs: DataFrame,
    query: str,
    fields: list[str],
    k: int = 10,
    mode: str = "or",
    fq: dict | None = None,
) -> DataFrame:
    """Solr's ``fl`` parameter: top-k with the requested STORED fields
    attached (the portal requests ``fl=id,name,description,...`` on
    every search, ``oni-indexer.js`` portal result list; Solr reads
    stored fields for the page of hits only). Returns
    ``(rank, doc_id, score, *fields)`` ordered by rank.

    Scale shape: ranking reuses the full index path unchanged; field
    retrieval is the k-row result BROADCAST against the document store
    — one pruned corpus scan reading only the requested columns
    (column-pruned parquet scan), output bounded at k rows. Same
    separation as Solr: the index stores no document content."""
    missing = [f for f in fields if f not in docs.columns]
    if missing:
        raise ValueError(f"unknown stored fields: {missing}")
    top = topk(tables, query, k=k, mode=mode, fq=fq)
    return (
        docs.select("doc_id", *fields)
        .join(F.broadcast(top), "doc_id")
        .select("rank", "doc_id", "score", *fields)
        .orderBy("rank")
    )
