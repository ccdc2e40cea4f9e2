"""Seeded benchmark corpora and the live document set the oracle reads.

Two corpus shapes, matching the engine's two corpus providers:

- ``driver``: a ``documents.parquet`` in the driver's
  ``(doc_id, text, lang, source, n_chars)`` layout, read through
  ``corpus.from_driver_documents``. Its text mimics the driver's sf0.1
  table: 10-100 words drawn uniformly from a 30-word vocabulary, a rare
  ``dup`` word, five languages and 20 sources.
- ``synth``: ``corpus.synth_documents`` written to parquet (20-400
  Zipf-skewed tokens per doc, code-shaped identifiers, Zipf-skewed repos).

Both are pure functions of the seed, so the same seed gives the same
inputs.
"""

from __future__ import annotations

import copy
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DRIVER_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
DRIVER_LANGS = ["en", "zh", "es", "fr", "de"]
DRIVER_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DRIVER_SOURCES = 20


def write_driver_documents(path: str, n_docs: int, seed: int, first_id: int = 0) -> str:
    """Write ``<path>/documents.parquet`` with ``n_docs`` rows whose ids
    start at ``first_id``; returns ``path``."""
    rng = np.random.default_rng([seed, first_id])
    lens = rng.integers(10, 101, n_docs)
    words = np.array(DRIVER_VOCAB + ["dup"])
    # ~0.1% of tokens are the rare word, as in the driver's table
    picks = np.where(
        rng.random(lens.sum()) < 0.001,
        len(DRIVER_VOCAB),
        rng.integers(0, len(DRIVER_VOCAB), lens.sum()),
    )
    toks = words[picks]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": rng.choice(DRIVER_LANGS, n_docs, p=DRIVER_LANG_P),
            "source": [f"src{i % DRIVER_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return path


def parquet_files(path: str) -> list[str]:
    if path.endswith(".parquet"):
        return [path]
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def file_state(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (size, mtime_ns)}`` under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out[full] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes in files that are new or changed between two snapshots."""
    return sum(sz for f, (sz, mt) in after.items() if before.get(f) != (sz, mt))


class LiveDocs:
    """The document set an index should answer for: parquet parts in the
    engine's input shape, minus the docs deleted by metadata filters.
    ``view_sql`` renders it as the ``documents`` view the DuckDB oracle
    builders read."""

    def __init__(self, shape: str):
        # driver parquet names its columns text/source; the engine sees
        # content/repo (corpus.from_driver_documents)
        self.select = (
            "doc_id, source AS repo, lang, text AS content"
            if shape == "driver"
            else "doc_id, repo, lang, content"
        )
        self.parts: list[str] = []
        self.deleted: list[dict[str, str]] = []

    def add(self, path: str) -> None:
        self.parts.extend(parquet_files(path))

    def delete(self, fq: dict[str, str]) -> None:
        self.deleted.append(dict(fq))

    def snapshot(self) -> "LiveDocs":
        snap = copy.copy(self)
        snap.parts = list(self.parts)
        snap.deleted = list(self.deleted)
        return snap

    def view_sql(self) -> str:
        files = ", ".join(_lit(f) for f in self.parts)
        where = ""
        if self.deleted:
            gone = " OR ".join(
                "(" + " AND ".join(f"{c} = {_lit(v)}" for c, v in sorted(fq.items())) + ")"
                for fq in self.deleted
            )
            where = f" WHERE NOT ({gone})"
        return (
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"(SELECT {self.select} FROM read_parquet([{files}])){where}"
        )


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
