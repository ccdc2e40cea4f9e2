#!/usr/bin/env python
"""Per-query cost split (guide §1), cold and warm: the query call
(``plan``) vs its ``collect()`` (``exec``), the Spark jobs and the py4j
round trips of each, for the bench query set plus the three composed
query kinds of perfbench's mix (a compound boolean ``search``,
``prefix_topk("s")`` and ``facet_query``).

Each op prints two lines:

- ``cold``: the first call on a fresh ``read_index`` (so a fresh
  ``Searcher``). Corpus stats, term dfs and a local query's postings
  block rows are read on the driver from the stats/dfreq/postings files
  the tables pinned (no job), so a cold small ``topk`` runs 0 jobs; fq
  doc sets and prefix expansions are collected by Spark jobs in this
  call;
- ``warm``: the third repeat on the same tables. A local-regime query
  (Σ df ≤ ``query/bm25.py:LOCAL_KERNEL_MAX_POSTINGS``) then finds its
  block rows, dfs and expansions memoized on the ``Searcher`` and runs
  no Spark job; only the freshness check (one generation-token read)
  and the result ``LocalRelation`` still cross py4j.

``plan`` times the query method itself; in the local regime that is
where rows are read (cold) and scored, and ``exec`` (the
``collect()`` of the returned LocalRelation) runs no job. Larger
queries build a lazy plan in ``plan`` and run their kernels and
shuffles in ``exec``. Zero-result queries run zero jobs. Round trips
are counted by wrapping py4j's ``send_command``.

Usage: python scripts/prof_query_jobs.py
(``SPARK_GRAFT_SF_DIR`` picks the corpus, default /root/testdata/sf0.1;
``PROF_REPO`` the engine checkout, default this one.)
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


class RoundTrips:
    """Counts py4j commands sent to the JVM (each is one round trip)."""

    def __init__(self, spark):
        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        cls = type(client)
        send = cls.send_command

        def counted(this, *args, **kw):
            self.n += 1
            return send(this, *args, **kw)

        cls.send_command = counted


def measure(tracker, trips, query, tables):
    n0 = max(list(tracker.getJobIdsForGroup(None)) + [-1])
    r0 = trips.n
    t0 = time.time()
    df = query(tables)
    t1 = time.time()
    r1 = trips.n
    rows = df.collect()
    t2 = time.time()
    r2 = trips.n
    n1 = max(list(tracker.getJobIdsForGroup(None)) + [-1])
    return (
        f"plan={1000 * (t1 - t0):.0f}ms exec={1000 * (t2 - t1):.0f}ms "
        f"jobs={n1 - n0} py4j={r1 - r0}+{r2 - r1} rows={len(rows)}"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="prof-query-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    docs = from_driver_documents(spark, sf_dir)
    cfg = IndexConfig(block_size=128, n_buckets=32)
    tmp = tempfile.mkdtemp(prefix="profq_")
    path = os.path.join(tmp, "index")
    build_to_path(docs, path, cfg, bucket_group_size=32, resume=False)
    # one throwaway query pays the JVM's first-use plan code generation
    topk(read_index(spark, path), "warmup scan", k=5).collect()

    trips = RoundTrips(spark)
    for name, query in QS:
        tables = read_index(spark, path)
        print(f"{name} cold: {measure(tracker, trips, query, tables)}")
        for _ in range(2):
            query(tables).collect()
        print(f"{name} warm: {measure(tracker, trips, query, tables)}")
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
