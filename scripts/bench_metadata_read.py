#!/usr/bin/env python
"""Crossover of the two ways a cold ``Searcher`` reads an index on
disk: corpus stats, term dfs and the local regime's postings read with
pyarrow on the driver from the files the stats/dfreq/postings
DataFrames pinned (``Searcher._pinned_table``), against the Spark jobs
they replace (a ``collect()`` of stats, a ``groupBy(term).sum(df)`` of
dfreq, the ``toArrow()`` of the pruned postings scan). The bounds in
``query/bm25.py`` (``_PINNED_MAX_FILES``, ``_PINNED_MAX_*BYTES``) come
from this measurement.

Builds a ``synth_documents`` index of ``--docs`` docs (32 buckets,
block 128, one bucket group: the perfbench and 1M-harness layout) and
appends a tenth more, so stats holds two rows and every dfreq bucket
two files. Then, on a fresh ``read_index`` per sample (median of
``--reps``), for each read path:

- ``list``: the pinned file count and the listing of the three
  tables, and the most row groups one postings file holds;
- ``stats``: ``Searcher.stats()``;
- ``dfs/<n>``: ``Searcher.term_dfs`` of ``n`` terms in ``n`` distinct
  buckets (the selected files and their bytes grow with ``n``);
- ``postings/<n>``: ``Searcher._local_rows`` of ``n`` terms of df ≤
  2,048 in ``n`` distinct buckets (Σ df stays within the local gate;
  the selected postings files and their bytes grow with ``n``);
- ``cold_topk``: a cold ``topk("hash join")`` end to end, its jobs.

Each line gives ms, Spark jobs and py4j round trips; both paths must
return the same values (the same rows in the same order).

Usage: python scripts/bench_metadata_read.py [--docs 1000] [--reps 8]
                                             [--out BENCH/metadata_read_1k.json]
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from urllib.parse import unquote, urlsplit

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def local_path(uri: str) -> str:
    """The local path of a ``file:`` URI as ``inputFiles()`` gives it."""
    return unquote(urlsplit(uri).path)


class RoundTrips:
    """Counts py4j commands sent to the JVM (each is one round trip)."""

    def __init__(self, spark):
        self.n = 0
        cls = type(spark.sparkContext._gateway._gateway_client)
        send = cls.send_command

        def counted(this, *args, **kw):
            self.n += 1
            return send(this, *args, **kw)

        cls.send_command = counted


def main() -> None:
    def arg(name, default):
        return type(default)(sys.argv[sys.argv.index(name) + 1]) if name in sys.argv else default

    n_docs, reps, out = arg("--docs", 1000), arg("--reps", 8), arg("--out", "")

    from pyspark.sql import functions as F

    from oni_indexer_spark.corpus import synth_documents
    from oni_indexer_spark.hashing import term_bucket_py
    from oni_indexer_spark.index import IndexConfig, append_to_index, build_to_path, read_index
    from oni_indexer_spark.query import bm25
    from oni_indexer_spark.session import get_spark

    spark = get_spark(app_name="bench-metadata-read")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(list(tracker.getJobIdsForGroup(None)) + [-1])

    gen = tempfile.mkdtemp(prefix="metaread_")
    corpus = os.path.join(gen, "documents.parquet")
    n_app = max(1, n_docs // 10)
    synth_documents(spark, n_docs + n_app, seed=7).write.parquet(corpus)
    docs = spark.read.parquet(corpus)
    path = os.path.join(gen, "index")
    cfg = IndexConfig(block_size=128, n_buckets=32)
    build_to_path(docs.where(F.col("doc_id") < n_docs), path, cfg,
                  bucket_group_size=32, resume=False)
    append_to_index(docs.where(F.col("doc_id") >= n_docs), path)

    def by_bucket(rows):  # the first term of each bucket
        out, seen = [], set()
        for r in rows:
            b = term_bucket_py(r["term"], cfg.n_buckets)
            if b not in seen:
                seen.add(b)
                out.append(r["term"])
        return out

    # query terms in distinct buckets, the most frequent first
    summed = read_index(spark, path).dfreq.groupBy("term").agg(F.sum("df").alias("df"))
    order = [F.col("df").desc(), "term"]
    terms = by_bucket(summed.orderBy(*order).limit(4000).collect())
    local_terms = by_bucket(summed.where(F.col("df") <= 2048).orderBy(*order).limit(4000).collect())
    bm25.topk(read_index(spark, path), "warmup scan", k=5).collect()

    trips = RoundTrips(spark)
    gate = ("_PINNED_MAX_FILES", "_PINNED_MAX_BYTES", "_PINNED_MAX_LOCAL_BYTES")
    forced = {"driver": (1 << 30, 1 << 40, 1 << 40), "spark": (0, 0, 0)}
    saved = tuple(getattr(bm25, g) for g in gate)

    def run(mode, op):
        for g, v in zip(gate, forced[mode]):
            setattr(bm25, g, v)
        try:
            s = bm25.Searcher(read_index(spark, path))
            s._fs()  # made by a query's freshness check before any read
            gc.collect()  # py4j frees the last sample's JVM objects now
            j0, r0, t0 = last_job(), trips.n, time.perf_counter()
            val = op(s)
            dt, r1 = time.perf_counter() - t0, trips.n
            return val, dt, last_job() - j0, r1 - r0, s
        finally:
            for g, v in zip(gate, saved):
                setattr(bm25, g, v)

    names = ("stats", "dfreq", "postings")

    def listing(s):  # the pinned lists alone: no file selected
        for name in names:
            s._pinned_table(name, "tid long", [])
        return {name: len(s._pinned[name][0]) for name in names}

    local_dfs = bm25.Searcher(read_index(spark, path)).term_dfs(local_terms)
    ops = [("list", listing), ("stats", lambda s: s.stats())]
    for n in (1, 2, 4, 8, 16, 32):
        if n <= len(terms):
            ops.append((f"dfs/{n}", lambda s, n=n: s.term_dfs(terms[:n])))
    for n in (1, 2, 4, 8, 16, 32):
        if n <= len(local_terms):
            dfs = {t: local_dfs[t] for t in local_terms[:n]}
            ops.append((f"postings/{n}", lambda s, dfs=dfs: s._local_rows(dfs)))
    ops.append(("cold_topk", lambda s: s.topk("hash join", k=10).collect()))

    report = {"docs": n_docs + n_app, "reps": reps, "ops": {}}
    for name, op in ops:
        row = {}
        vals = {}
        for mode in ("driver", "spark"):
            if name == "list" and mode == "spark":
                continue
            samples = [run(mode, op) for _ in range(reps)]
            vals[mode] = samples[0][0]
            row[mode] = {
                "ms": round(1000 * statistics.median(x[1] for x in samples), 1),
                "jobs": samples[-1][2],
                "py4j": samples[-1][3],
            }
        if "/" in name:
            kind, n = name.split("/")
            table, chosen = ("dfreq", terms) if kind == "dfs" else ("postings", local_terms)
            buckets = {f"bucket={term_bucket_py(t, cfg.n_buckets)}" for t in chosen[:int(n)]}
            files = [f for f in getattr(read_index(spark, path), table).inputFiles()
                     if buckets.intersection(f.split("/"))]
            row["files"] = len(files)
            row["bytes"] = sum(os.path.getsize(local_path(f)) for f in files)
        if name == "list":
            row["pinned_files"] = vals["driver"]
            row["postings_row_groups_max"] = max(
                pq.ParquetFile(local_path(f)).metadata.num_row_groups
                for f in read_index(spark, path).postings.inputFiles()
            )
        elif vals.get("driver") != vals.get("spark"):
            raise SystemExit(f"{name}: driver {vals.get('driver')} != spark {vals.get('spark')}")
        report["ops"][name] = row
        print(name, json.dumps(row), flush=True)
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
    shutil.rmtree(gen, ignore_errors=True)


if __name__ == "__main__":
    main()
