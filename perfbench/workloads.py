"""The benchmark's two workloads, driven through the engine's public API.

Both are closed loops with one client: the next call starts when the
previous ``collect()`` (or mutator) returns. Both run the same set-up
(``SETUP_REPS`` times: corpus load, index build, open) and warm-up. They
differ in what the timed window repeats:

- ``query_small``: whole passes over the 14-op query mix on a 5,000-doc
  driver-shaped corpus. The traced run adds one mutation cycle after
  the window, for the mutators' per-layer metrics.
- ``ingest``: mutation cycles (append, compact, delete) on a 1,000-doc
  synthetic corpus; after each mutation, twice: reopen the index and run
  ``q_two_term`` once cold and three times warm.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from perfbench import corpora
from perfbench.checks import Op, Oracle, mismatch, rows_of
from perfbench.tracing import Tracer, covered

SETUP_REPS = 3
BUILD_BUCKET_GROUP = 32

# name, query, k, mode, filtered — bench.py's QUERY_SET; the lang filter
# value is chosen from the corpus (see query_mix)
QUERY_SET = [
    ("q_hot_single", "the", 10, "or", False),
    ("q_mid_single", "merge", 10, "or", False),
    ("q_two_term", "hash join", 10, "or", False),
    ("q_two_term_and", "hash join", 10, "and", False),
    ("q_three_term", "window merge sort", 10, "or", False),
    ("q_four_term", "spark batch stream dup", 10, "or", False),
    ("q_rare_plus_hot", "the spark", 10, "or", False),
    ("q_k1", "scan", 1, "or", False),
    ("q_k100", "the scan", 100, "or", False),
    ("q_fq_lang", "hash", 10, "or", True),
    ("q_zero_result", "zzz_not_in_corpus", 10, "or", False),
]
FACETS = (("merge", "merge"), ("scan_sort", "scan sort"), ("window", "window"))

WORKLOADS = {
    # shape, docs, docs per appended batch
    "query_small": ("driver", 5000, 250),
    "ingest": ("synth", 1000, 100),
}


def query_mix(lang: str, rare: str) -> list[Op]:
    ops = [
        Op(name, "topk", q, k, mode, (("lang", lang),) if filt else (),
           expect_rows=name != "q_zero_result")
        for name, q, k, mode, filt in QUERY_SET
    ]
    ops += [
        Op("facet_query", "facet", "hash join", named=FACETS),
        Op("boolean_search", "search", f"+hash -{rare} merge lang:{lang}"),
        Op("prefix_topk", "prefix", "s"),
    ]
    return ops


def _pct(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Bench:
    """One benchmark run: its session, corpus, index and measurements."""

    def __init__(self, spark, workload: str, seed: int, seconds: float, work: str,
                 trace: bool, cpus: int):
        self.spark = spark
        self.workload = workload
        self.shape, self.n_docs, self.batch_docs = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cpus = cpus
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(spark.sparkContext, trace)
        self.live = corpora.LiveDocs(self.shape)
        self.path = os.path.join(work, "index")
        self.next_id = self.n_docs
        # measurements
        self.query_lat: list[float] = []
        self.cold_lat: list[float] = []
        self.op_lat: dict[str, list[float]] = {}
        self.setup_rep_s: list[float] = []
        self.build_s: list[float] = []
        self.append_rate: list[float] = []
        self.delete_s: list[float] = []
        self.compact_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        # (state, op name) -> (op, rows of the first answer)
        self.answers: dict[tuple[str, str], tuple[Op, list]] = {}
        self.state = "base"
        # index state -> the live docs it should answer for
        self.states: dict[str, corpora.LiveDocs] = {}
        # ingest times the queries of its post-mutation passes
        self.probes_count_as_queries = workload == "ingest"
        self.session_s = self.corpus_s = self.warm_up_s = 0.0
        self.info: dict = {}

    # ------------------------------------------------------------ corpus

    def make_corpus(self) -> str:
        """Write the seeded corpus; returns its parquet location."""
        base = os.path.join(self.work, "corpus")
        if self.shape == "driver":
            corpora.write_driver_documents(base, self.n_docs, self.seed)
            return os.path.join(base, "documents.parquet")
        from oni_indexer_spark.corpus import synth_documents

        synth_documents(self.spark, self.n_docs, seed=self.seed).write.parquet(base)
        return base

    def load_docs(self, location: str):
        """The engine's corpus provider over a written corpus."""
        if self.shape == "driver":
            from oni_indexer_spark.corpus import from_driver_documents

            return from_driver_documents(self.spark, os.path.dirname(location))
        return self.spark.read.parquet(location)

    def make_batch(self, cycle: int) -> tuple[str, int]:
        """Write an append batch with fresh doc ids; returns (location, n)."""
        loc = os.path.join(self.work, f"append_{cycle}")
        first, n = self.next_id, self.batch_docs
        self.next_id += n
        if self.shape == "driver":
            corpora.write_driver_documents(loc, n, self.seed, first_id=first)
            return os.path.join(loc, "documents.parquet"), n
        from pyspark.sql import functions as F

        from oni_indexer_spark.corpus import synth_documents

        (
            synth_documents(self.spark, n, seed=self.seed * 1000 + cycle + 1)
            .withColumn("doc_id", F.col("doc_id") + F.lit(first))
            .write.parquet(loc)
        )
        return loc, n

    # --------------------------------------------------------------- ops

    def run_op(self, tables, op: Op, cold: bool = False, warm_up: bool = False) -> float:
        from oni_indexer_spark.query import facet_query, prefix_topk, search, topk

        tr = self.tracer
        layer = {"topk": "bm25", "facet": "facets", "search": "search",
                 "prefix": "prefix"}[op.kind]
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span(f"op.{op.name}", tr.new_op(), jobs=True) as sp:
            with tr.span(f"{layer}.plan"):
                if op.kind == "topk":
                    df = topk(tables, op.query, k=op.k, mode=op.mode, fq=dict(op.fq) or None)
                elif op.kind == "facet":
                    df = facet_query(tables, op.query, dict(op.named))
                elif op.kind == "search":
                    df = search(tables, op.query, k=op.k)
                else:
                    df = prefix_topk(tables, op.query, k=op.k)
            with tr.span(f"{layer}.execute"):
                collected = df.collect()
        lat = time.perf_counter() - t0
        if sp is not None:
            sp.attrs.update(kind=op.kind, cold=cold, warm_up=warm_up, op=op.name)
        rows = rows_of(op, collected)
        key = (self.state, op.name)
        if key not in self.answers:
            self.answers[key] = (op, rows)
        elif rows != self.answers[key][1]:
            self.failures.append(f"{op.name}: answer changed between repeats in {self.state}")
        if cold:
            self.cold_lat.append(lat)
        elif not warm_up:
            self.op_lat.setdefault(op.name, []).append(lat)
        return lat

    # ------------------------------------------------------------- setup

    def setup_once(self, rep: int, corpus_loc: str):
        """Corpus load, build and open; returns the index path."""
        from oni_indexer_spark.index import IndexConfig, build_to_path, read_index
        from oni_indexer_spark.index.lineage import Lineage

        tr = self.tracer
        path = f"{self.path}_setup{rep}"
        t0 = time.perf_counter()
        with tr.span("corpus.load", tr.new_op(), jobs=True):
            docs = self.load_docs(corpus_loc)
            n = docs.count()
        with tr.span("index.build", tr.new_op(), jobs=True) as sp:
            wall0 = time.time() - time.perf_counter()
            tb = time.perf_counter()
            build_to_path(docs, path, IndexConfig(block_size=128, n_buckets=32),
                          bucket_group_size=BUILD_BUCKET_GROUP, resume=False)
            self.build_s.append(time.perf_counter() - tb)
        if sp is not None:
            for rec in Lineage(self.spark, path).records():
                if rec.get("status") == "done":
                    stage = "postings" if rec["stage"].startswith("postings_") else rec["stage"]
                    tr.add(f"build.{stage}", rec["started_at"] - wall0,
                           rec["finished_at"] - wall0, sp)
        with tr.span("index.read", tr.new_op()):
            read_index(self.spark, path)
        self.setup_rep_s.append(time.perf_counter() - t0)
        if n != self.n_docs:
            self.failures.append(f"corpus has {n} docs, expected {self.n_docs}")
        return path

    def setup(self) -> None:
        t0 = time.perf_counter()
        loc = self.make_corpus()
        self.corpus_s = time.perf_counter() - t0
        self.live.add(loc)
        self.info["input_bytes"] = corpora.parquet_bytes(loc)
        for rep in range(SETUP_REPS):
            path = self.setup_once(rep, loc)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(path)
        os.rename(path, self.path)
        self.info["index_bytes"] = corpora.dir_bytes(self.path)

    # --------------------------------------------------------- mutations

    def delete_target(self) -> dict:
        """A (repo, lang) pair holding about 1% of the live docs."""
        oracle = Oracle(self.live, self.cpus)
        try:
            pairs = oracle.query(
                "SELECT repo, lang, count(*) FROM documents GROUP BY 1, 2 ORDER BY 1, 2"
            )
        finally:
            oracle.close()
        total = sum(c for _, _, c in pairs)
        repo, lang, _ = min(pairs, key=lambda p: (abs(p[2] - total / 100), p[0], p[1]))
        return {"repo": repo, "lang": lang}

    def reopen(self):
        from oni_indexer_spark.index import read_index

        with self.tracer.span("index.read", self.tracer.new_op()):
            return read_index(self.spark, self.path)

    def mutation_cycle(self, cycle: int, probe: Op, rounds: int, repeats: int) -> None:
        """Append, compact, delete; after each, ``rounds`` times: reopen
        the index and run ``probe`` once cold and ``repeats - 1`` times
        warm. The delete runs on the compacted index: ``delete_docs`` on
        an index with appended segments miscounts df (perfbench/README.md,
        "Known engine defect")."""
        from oni_indexer_spark.index import append_to_index, compact_index, delete_docs

        tr = self.tracer
        loc, n_new = self.make_batch(cycle)
        docs_new = self.load_docs(loc)
        self.attempted += 1
        with tr.span("index.append", tr.new_op(), jobs=True):
            t0 = time.perf_counter()
            append_to_index(docs_new, self.path, batch_id=f"perfbench_a{cycle}")
            self.append_rate.append(n_new / (time.perf_counter() - t0))
        self.live.add(loc)
        self._probe(f"append{cycle}", probe, rounds, repeats)

        before = corpora.file_state(self.path)
        self.attempted += 1
        with tr.span("index.compact", tr.new_op(), jobs=True) as sp:
            t0 = time.perf_counter()
            compact_index(self.path, self.spark, batch_id=f"perfbench_c{cycle}")
            self.compact_s.append(time.perf_counter() - t0)
        if sp is not None:
            sp.attrs["bytes_written"] = corpora.bytes_written(
                before, corpora.file_state(self.path))
        self._probe(f"compact{cycle}", probe, rounds, repeats)

        fq = self.delete_target()
        before = corpora.file_state(self.path)
        self.attempted += 1
        with tr.span("index.delete", tr.new_op(), jobs=True) as sp:
            t0 = time.perf_counter()
            removed = delete_docs(self.path, self.spark, fq=fq,
                                  batch_id=f"perfbench_d{cycle}")
            self.delete_s.append(time.perf_counter() - t0)
        if sp is not None:
            sp.attrs["bytes_written"] = corpora.bytes_written(
                before, corpora.file_state(self.path))
        if not removed:
            self.failures.append(f"delete {fq} removed no docs")
        self.live.delete(fq)
        self._probe(f"delete{cycle}", probe, rounds, repeats)

    def _probe(self, state: str, probe: Op, rounds: int, repeats: int) -> None:
        self.state = state
        self.states[state] = self.live.snapshot()
        for _ in range(rounds):
            tables = self.reopen()
            for i in range(repeats):
                lat = self.run_op(tables, probe, cold=i == 0)
                if self.probes_count_as_queries:
                    self.query_lat.append(lat)

    # -------------------------------------------------------------- run

    def run(self) -> None:
        t0 = time.perf_counter()
        self.setup()
        self.states["base"] = self.live.snapshot()
        self.phase("setup", t0)
        lang, rare = self.pick_filters()
        self.info["filters"] = {"lang": lang, "must_not": rare}
        mix = query_mix(lang, rare)
        by_name = {op.name: op for op in mix}
        probe = by_name["q_two_term"]
        # warm-up: the first query on the opened index, then one run of
        # each other query kind, whose first run in a JVM pays plan code
        # generation. ingest times only topk queries; it runs the other
        # kinds only when traced, for their per-layer metrics.
        t1 = time.perf_counter()
        tables = self.reopen()
        self.run_op(tables, probe, cold=True)
        if self.workload == "query_small" or self.tracer.enabled:
            for op in mix:
                if op.kind != "topk":
                    self.run_op(tables, op, warm_up=True)
        self.warm_up_s = time.perf_counter() - t1
        self.phase("warm_up", t0)
        if self.workload == "query_small":
            # whole passes only, so every run samples the mix evenly
            end = time.perf_counter() + self.seconds
            while time.perf_counter() < end:
                for i in self.rng.permutation(len(mix)):
                    self.query_lat.append(self.run_op(tables, mix[i]))
            self.phase("window", t0)
            self.codec_layer(tables, mix)
            self.phase("codec", t0)
            if self.tracer.enabled:
                self.mutation_cycle(0, probe, rounds=1, repeats=1)
                self.phase("mutations", t0)
        else:
            self.codec_layer(tables, mix)
            self.phase("codec", t0)
            # a quarter of the samples are cold, so p90 falls among them
            # and p50 among the warm ones, away from the boundary
            end = time.perf_counter() + self.seconds
            cycle = 0
            while cycle == 0 or time.perf_counter() < end:
                self.mutation_cycle(cycle, probe, rounds=2, repeats=4)
                cycle += 1
            self.phase("mutations", t0)
        self.check_answers()
        self.phase("checks", t0)

    def phase(self, name: str, t0: float) -> None:
        """Record the wall time since ``t0`` minus the phases before it."""
        done = sum(self.info.setdefault("phases_s", {}).values())
        self.info["phases_s"][name] = time.perf_counter() - t0 - done

    def pick_filters(self) -> tuple[str, str]:
        """Filter values from the corpus: a language chosen by the seed
        among those holding at least 5% of the docs, and the term whose
        document frequency is closest to 10% (the boolean query's
        MUST_NOT clause; a head term such as ``scan`` is in nearly every
        synthetic doc and would empty the result)."""
        from oni_indexer_spark.analyzer import analyzer_tokens_sql

        oracle = Oracle(self.live, self.cpus)
        try:
            counts = oracle.query("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1")
            total = sum(c for _, c in counts)
            rare = oracle.query(
                f"SELECT term FROM (SELECT DISTINCT doc_id, unnest("
                f"{analyzer_tokens_sql('content')}) AS term FROM documents) "
                f"GROUP BY term ORDER BY abs(count(*) - {total / 10}), term LIMIT 1"
            )[0][0]
        finally:
            oracle.close()
        langs = [lang for lang, c in counts if c >= 0.05 * total]
        return langs[int(self.rng.integers(len(langs)))], rare

    # ------------------------------------------------------------ checks

    def check_answers(self) -> None:
        by_state: dict[str, list] = {}
        for (state, name), (op, rows) in sorted(self.answers.items()):
            by_state.setdefault(state, []).append((op, rows))
        for state, answers in by_state.items():
            oracle = Oracle(self.states[state], self.cpus)
            try:
                for op, rows in answers:
                    why = mismatch(op, rows, oracle.expected(op))
                    if why:
                        self.failures.append(f"{state}/{op.name}: {why}")
            finally:
                oracle.close()

    # ------------------------------------------------------------- codec

    def codec_layer(self, tables, mix: list[Op]) -> None:
        """Time the varint postings codec outside Spark on the blobs of
        each bm25 op's terms, and check the round trip is byte-identical."""
        from pyspark.sql import functions as F

        from oni_indexer_spark.analyzer import query_terms
        from oni_indexer_spark.hashing import term_bucket_py, xxhash64_str
        from oni_indexer_spark.index.codec import decode_postings_flat, encode_postings_flat
        from oni_indexer_spark.query.bm25 import Searcher

        cfg = tables.cfg
        op_terms = {
            op.name: sorted(set(query_terms(op.query, cfg.analyzer)))
            for op in mix if op.kind == "topk"
        }
        terms = sorted({t for ts in op_terms.values() for t in ts})
        tids = {xxhash64_str(t): t for t in terms}
        rows = (
            tables.postings.where(
                F.col("bucket").isin(sorted({term_bucket_py(t, cfg.n_buckets) for t in terms}))
                & F.col("tid").isin(list(tids))
            )
            .select("tid", "block_id", "block_min_dl", "blob")
            .collect()
        )
        by_term: dict[str, list] = {}
        for r in rows:
            by_term.setdefault(tids[r["tid"]], []).append(r)
        dfs = Searcher(tables).term_dfs(terms)
        sum_df = {}
        dec_n = dec_s = enc_n = enc_s = 0.0
        for name, ts in sorted(op_terms.items()):
            sum_df[name] = sum(dfs.get(t, 0) for t in ts)
            blocks = [r for t in ts for r in by_term.get(t, [])]
            if not blocks:
                continue
            blobs = [bytes(r["blob"]) for r in blocks]
            base_docs = np.array([r["block_id"] for r in blocks], dtype=np.int64) * cfg.block_size
            base_dls = np.array([r["block_min_dl"] for r in blocks], dtype=np.int64)
            t_dec, t_enc = [], []
            for _ in range(5):
                t0 = time.perf_counter()
                docs, tfs, dls, counts = decode_postings_flat(blobs, base_docs, base_dls)
                t_dec.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                again = encode_postings_flat(docs, tfs, dls, counts, base_docs, base_dls)
                t_enc.append(time.perf_counter() - t0)
            self.attempted += 1
            if [bytes(b) for b in again] != blobs:
                self.failures.append(f"codec round trip differs on {name}")
            n = float(counts.sum())
            if n != sum_df[name]:
                self.failures.append(f"{name}: {n:.0f} postings decoded, term_dfs says {sum_df[name]}")
            dec_n += n
            enc_n += n
            dec_s += statistics.median(t_dec)
            enc_s += statistics.median(t_enc)
        self.info["codec"] = {
            "sum_df": sum_df,
            "decode_postings_per_s": dec_n / dec_s if dec_s else 0.0,
            "encode_postings_per_s": enc_n / enc_s if enc_s else 0.0,
        }

    # ----------------------------------------------------------- metrics

    def op_p50(self) -> dict[str, list]:
        """``{op: [warm p50, warm samples]}`` over the ops that ran warm."""
        return {n: [statistics.median(v), len(v)] for n, v in sorted(self.op_lat.items())}

    def end_to_end(self) -> dict:
        # the first build runs in a cold JVM; it counts in setup_s only
        med_build = statistics.median(self.build_s[1:])
        return {
            "setup_s": (self.session_s + self.corpus_s + statistics.median(self.setup_rep_s)
                        + self.warm_up_s, "s"),
            "query_p50_s": (statistics.median(self.query_lat), "s"),
            "query_p90_s": (_pct(self.query_lat, 90), "s"),
            "build_docs_per_s": (self.n_docs / med_build, "docs/s"),
            "index_bytes_per_input_byte": (
                self.info["index_bytes"] / self.info["input_bytes"], "ratio"),
            "peak_rss_mb": (peak_rss_mb(self.spark), "MB"),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        med = statistics.median

        def ops(kind, cold=False):
            spans = [s for s in tr.spans if s.name.startswith("op.")
                     and s.attrs.get("kind") == kind and s.attrs.get("cold") == cold]
            # ingest runs facet, boolean and prefix only in the warm-up
            return [s for s in spans if not s.attrs["warm_up"]] or spans

        def per_op_count(spans, attr):
            # counts repeat exactly per distinct op: median per op, then mean
            by = {}
            for s in spans:
                by.setdefault(s.attrs["op"], []).append(s.attrs[attr])
            return sum(med(v) for v in by.values()) / len(by)

        def kids(spans, name):
            return [c.duration for s in spans for c in tr.children(s) if c.name == name]

        builds = tr.named("index.build")
        stage = {k: med([covered([(c.start, c.end) for c in tr.children(b) if c.name == f"build.{k}"])
                         for b in builds])
                 for k in ("doclen", "postings", "tid_check")}
        warm_topk = ops("topk")
        all_topk = ops("topk") + ops("topk", cold=True)
        codec = self.info["codec"]
        ran = {s.attrs["op"] for s in all_topk}
        dfs = statistics.mean(codec["sum_df"][n] for n in ran if n in codec["sum_df"])
        exec_s = kids(warm_topk, "bm25.execute")
        return {
            "session.start_s": (self.session_s, "s"),
            "corpus.load_s": (
                self.corpus_s + med([s.duration for s in tr.named("corpus.load")]), "s"),
            "build.doclen_s": (stage["doclen"], "s"),
            "build.postings_s": (stage["postings"], "s"),
            "build.tid_check_s": (stage["tid_check"], "s"),
            "build.self_s": (med([tr.self_time(b) for b in builds]), "s"),
            "build.jobs": (med([b.attrs["jobs"] for b in builds]), "count"),
            "build.tasks": (med([b.attrs["tasks"] for b in builds]), "count"),
            "append.docs_per_s": (med(self.append_rate), "docs/s"),
            "append.jobs": (med([s.attrs["jobs"] for s in tr.named("index.append")]), "count"),
            "delete.s": (med(self.delete_s), "s"),
            "delete.jobs": (med([s.attrs["jobs"] for s in tr.named("index.delete")]), "count"),
            "delete.bytes_written": (
                med([s.attrs["bytes_written"] for s in tr.named("index.delete")]), "bytes"),
            "compact.s": (med(self.compact_s), "s"),
            "compact.jobs": (med([s.attrs["jobs"] for s in tr.named("index.compact")]), "count"),
            "compact.bytes_written": (
                med([s.attrs["bytes_written"] for s in tr.named("index.compact")]), "bytes"),
            "codec.decode_postings_per_s": (codec["decode_postings_per_s"], "postings/s"),
            "codec.encode_postings_per_s": (codec["encode_postings_per_s"], "postings/s"),
            "bm25.plan_s": (med(kids(warm_topk, "bm25.plan")), "s"),
            "bm25.execute_s": (med(exec_s), "s"),
            "bm25.jobs_per_query": (per_op_count(warm_topk, "jobs"), "count"),
            "bm25.tasks_per_query": (per_op_count(warm_topk, "tasks"), "count"),
            "bm25.postings_per_query": (dfs, "count"),
            "bm25.postings_per_execute_s": (dfs / med(exec_s), "postings/s"),
            "bm25.cold_query_s": (med([s.duration for s in ops("topk", cold=True)]), "s"),
            "bm25.prefix_s": (med([s.duration for s in ops("prefix")]), "s"),
            "facets.facet_query_s": (med([s.duration for s in ops("facet")]), "s"),
            "facets.jobs": (per_op_count(ops("facet"), "jobs"), "count"),
            "search.boolean_s": (med([s.duration for s in ops("search")]), "s"),
            "trace.query_p50_s": (med(self.query_lat), "s"),
            "trace.overhead_per_op_s": (
                tr.overhead_s / len([s for s in tr.spans if s.name.startswith("op.")]), "s"),
        }


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS (``VmHWM``) plus this process's ``ru_maxrss``."""
    import resource

    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0
