#!/usr/bin/env python
"""Per-query cost split (guide §1): the query call (``plan``) vs its
``collect()`` (``exec``) vs Spark job count, for the bench query set
plus the three composed query kinds of perfbench's mix (a compound
boolean ``search``, ``prefix_topk("s")`` and ``facet_query``).

Prints rep-3 numbers (df/fq lookups memoized by then — the regime the
bench's median-of-3 measures). ``plan`` times the query method itself;
in the local regime (Σ df ≤ ``query/bm25.py:LOCAL_KERNEL_MAX_POSTINGS``)
that is where the scan is collected and scored, and ``exec`` (the
``collect()`` of the returned LocalRelation) runs no job. Larger queries
build a lazy plan in ``plan`` and run their kernels and shuffles in
``exec``. Zero-result queries run zero jobs.

Usage: python scripts/prof_query_jobs.py
"""
import os
import shutil
import sys
import tempfile
import time

REPO = os.environ.get(
    "PROF_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

from oni_indexer_spark.corpus import from_driver_documents  # noqa: E402
from oni_indexer_spark.index import IndexConfig, build_to_path, read_index  # noqa: E402
from oni_indexer_spark.query import facet_query, prefix_topk, search, topk  # noqa: E402
from oni_indexer_spark.session import get_spark  # noqa: E402

QS = [
    ("q_hot_single", lambda t: topk(t, "the", k=10)),
    ("q_two_term", lambda t: topk(t, "hash join", k=10)),
    ("q_four_term", lambda t: topk(t, "spark batch stream dup", k=10)),
    ("q_k100", lambda t: topk(t, "the scan", k=100)),
    ("q_fq_lang", lambda t: topk(t, "hash", k=10, fq={"lang": "en"})),
    ("q_zero_result", lambda t: topk(t, "zzz_not_in_corpus", k=10)),
    ("boolean_search", lambda t: search(t, "+hash -window merge lang:en", k=10)),
    ("prefix_topk", lambda t: prefix_topk(t, "s", k=10)),
    ("facet_query", lambda t: facet_query(
        t, "hash join", {"merge": "merge", "scan_sort": "scan sort", "window": "window"})),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="prof-query-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = from_driver_documents(spark, sf_dir)
    cfg = IndexConfig(block_size=128, n_buckets=32)
    tmp = tempfile.mkdtemp(prefix="profq_")
    path = os.path.join(tmp, "index")
    build_to_path(docs, path, cfg, bucket_group_size=32, resume=False)
    tables = read_index(spark, path)
    topk(tables, "warmup scan", k=5).collect()

    tracker = sc.statusTracker()
    for name, query in QS:
        for rep in range(3):
            n0 = max(list(tracker.getJobIdsForGroup(None)) + [-1])
            t0 = time.time()
            df = query(tables)
            t1 = time.time()
            rows = df.collect()
            t2 = time.time()
            n1 = max(list(tracker.getJobIdsForGroup(None)) + [-1])
            if rep == 2:
                print(
                    f"{name}: plan={1000 * (t1 - t0):.0f}ms "
                    f"exec={1000 * (t2 - t1):.0f}ms jobs={n1 - n0} rows={len(rows)}"
                )
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
