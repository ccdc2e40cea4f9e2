"""The block-stream decode core of the scoring kernels
(``query/bm25.py``: ``_whole_block_batches`` / ``_block_stream``), fed
hand-built Arrow batches without Spark. Block-sorted input whose
block_id runs straddle batch boundaries must come out as units of whole
blocks that concatenate back to the input."""

import numpy as np
import pyarrow as pa
import pytest

from oni_indexer_spark.index.codec import encode_postings_flat, encode_postings_pos_flat
from oni_indexer_spark.query.bm25 import _block_stream, _whole_block_batches

BLOCK = 8


def _block_rows(block_ids, positional=False):
    """One encoded block row per entry of ``block_ids`` (a term per row),
    plus the flat postings the rows encode."""
    rng = np.random.default_rng(7)
    n = np.array([1 + i % 3 for i in range(len(block_ids))], dtype=np.int64)
    docs = np.concatenate([
        blk * BLOCK + np.sort(rng.choice(BLOCK, c, replace=False))
        for blk, c in zip(block_ids, n)
    ]).astype(np.int64)
    tfs = rng.integers(1, 4, docs.size).astype(np.int64)
    dls = rng.integers(3, 40, docs.size).astype(np.int64)
    starts = np.cumsum(n) - n
    base_docs = np.asarray(block_ids, dtype=np.int64) * BLOCK
    min_dls = np.minimum.reduceat(dls, starts)
    pos = np.concatenate([np.sort(rng.choice(50, t, replace=False)) for t in tfs])
    if positional:
        blobs = encode_postings_pos_flat(docs, tfs, dls, pos, n, base_docs, min_dls)
    else:
        blobs = encode_postings_flat(docs, tfs, dls, n, base_docs, min_dls)
    table = pa.table({
        "tid": pa.array(np.arange(len(block_ids)) + 100, type=pa.int64()),
        "block_id": pa.array(block_ids, type=pa.int64()),
        "block_min_dl": pa.array(min_dls.astype(np.int32), type=pa.int32()),
        "n": pa.array(n.astype(np.int32), type=pa.int32()),
        "blob": pa.array(blobs, type=pa.binary()),
    })
    return table, docs, tfs, dls, pos


def _split(table, sizes):
    """The table as Arrow batches of the given row counts (0 = empty)."""
    assert sum(sizes) == table.num_rows
    at = 0
    out = []
    for s in sizes:
        cols = [c.slice(at, s).combine_chunks() for c in table.columns]
        out.append(pa.record_batch(cols, schema=table.schema))
        at += s
    return out


CASES = [
    # block ids, batch sizes
    ([1, 1, 1, 2, 2, 2, 3], [2, 2, 3]),  # [1,1 | 1,2 | 2,2,3]
    ([1, 1, 1, 2, 2, 2, 3], [1] * 7),  # one-row batches
    ([1, 1, 1, 1, 2, 4, 4], [2, 1, 0, 3, 1]),  # one block across 3 batches, an empty batch
    ([5], [1]),
    ([0, 1, 2, 3], [4]),
]


@pytest.mark.parametrize("block_ids,sizes", CASES)
def test_whole_block_batches_regroup_without_loss(block_ids, sizes):
    table, *_ = _block_rows(block_ids)
    units = list(_whole_block_batches(iter(_split(table, sizes))))
    seen: set[int] = set()
    for u in units:
        blocks = set(u.column("block_id").to_pylist())
        assert not blocks & seen, "a block was split across units"
        seen |= blocks
    assert pa.Table.from_batches(units).equals(table.combine_chunks())


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize("block_ids,sizes", CASES)
def test_block_stream_units_decode_the_input(block_ids, sizes, positional):
    table, docs, tfs, dls, pos = _block_rows(block_ids, positional)
    units = list(_block_stream(
        iter(_split(table, sizes)), BLOCK, positional=positional,
        with_positions=positional, whole_blocks=True,
    ))
    seen: set[int] = set()
    for u in units:
        assert not set(u.blk.tolist()) & seen
        seen |= set(u.blk.tolist())
        assert u.counts.sum() == u.doc_ids.size
    cat = lambda f: np.concatenate([getattr(u, f) for u in units])  # noqa: E731
    assert cat("blk").tolist() == block_ids
    assert cat("tids").tolist() == table.column("tid").to_pylist()
    assert cat("doc_ids").tolist() == docs.tolist()
    assert cat("tfs").tolist() == tfs.tolist()
    assert cat("dls").tolist() == dls.tolist()
    if positional:
        assert cat("positions").tolist() == pos.tolist()
    else:
        assert all(u.positions is None for u in units)


def test_block_stream_unsorted_scan_is_one_unit_per_batch():
    """Unsorted scans (single-term scorer, decoded rows) stream batch by
    batch: no carry, one unit per non-empty batch, no tid needed."""
    table, docs, *_ = _block_rows([3, 1, 2, 1, 3])
    batches = _split(table.drop(["tid"]), [2, 0, 3])
    units = list(_block_stream(iter(batches), BLOCK))
    assert [u.blk.tolist() for u in units] == [[3, 1], [2, 1, 3]]
    assert all(u.tids is None for u in units)
    assert np.concatenate([u.doc_ids for u in units]).tolist() == docs.tolist()
