"""The two workloads: a closed loop with one client in one process.

Each workload sets up (Spark session, corpus, index), then runs whole
rounds of operations: always one, then another only while it is expected
to end within `seconds`, so every run has the same operation mix whatever
the host speed. In a traced run every query runs twice, untraced and
traced in alternating order, so the difference of the two medians is the
tracing overhead; writes run once, traced.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
import traceback

from perfbench.checks import same_ranking, segments_match_stats
from perfbench.corpora import SF01_VOCAB, sf01_documents, url_of
from perfbench.session import (CORES, reset_peak_rss, start_spark,
                               tree_cpu_s, tree_peak_rss_mb)
from perfbench.trace import Tracer, plan_scans

K = 10


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Run:
    """Counters, timings and the optional tracer of one benchmark run."""

    def __init__(self, work: str, seconds: float, traced: bool):
        self.work = work
        self.seconds = seconds
        self.tracer = Tracer() if traced else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        #: query latencies in ms, untraced ("plain") and traced
        self.latency: dict[str, list[float]] = {"plain": [], "traced": []}
        #: untraced wall ms of each loop operation (query, msearch batch,
        #: write) by operation name, and the CPU ms the process tree used
        #: meanwhile
        self.loop_ms: dict[str, list[float]] = {}
        self.loop_cpu_ms: dict[str, list[float]] = {}
        #: wall seconds and CPU ms of each non-query operation, by name
        self.op_secs: dict[str, list[float]] = {}
        self.op_cpu_ms: dict[str, list[float]] = {}
        self.msearch_queries = 0
        self.msearch_secs = 0.0
        #: (kind, scans) of every collected query plan in traced rounds
        self.scans: list[tuple[str, list]] = []
        #: end-to-end figures a workload computes itself (setup, sizes)
        self.figures: dict[str, float] = {}
        #: total-hits phase times from run_search profiles (traced only)
        self.total_hits_ms: list[float] = []
        self.rounds = 0
        self._plans: list[tuple[str, object]] = []
        self._flip = False
        self._in_loop = False

    # -- phases -------------------------------------------------------------
    def start(self) -> None:
        self.spark = start_spark(self.work)

    def begin_loop(self) -> None:
        if self.tracer:
            self.tracer.phase = "loop"
        reset_peak_rss(os.getpid())
        self._in_loop = True
        self._loop_t0 = self._round_t0 = time.perf_counter()
        self._longest_round = 0.0

    def another_round(self) -> bool:
        """Whether to start a round: always the first, then another only
        if one as long as the longest so far ends within `seconds`."""
        now = time.perf_counter()
        if self.rounds:
            self._longest_round = max(self._longest_round,
                                      now - self._round_t0)
            if now - self._loop_t0 + self._longest_round > self.seconds:
                return False
        self.rounds += 1
        self._round_t0 = now
        return True

    def end_loop(self) -> None:
        self._in_loop = False
        self.figures["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())

    # -- operations ---------------------------------------------------------
    def _variants(self) -> list[bool]:
        """[traced?] per run of an operation: untraced only, or both in an
        order that alternates, so warm-up favours neither side."""
        if not self.tracer:
            return [False]
        self._flip = not self._flip
        return [False, True] if self._flip else [True, False]

    def _fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        print(f"FAILED {what} {detail}".rstrip(), file=sys.stderr)

    def collect(self, df, traced: bool, kind: str, span: str):
        """`df.collect()`; traced, inside a span, keeping the plan for its
        scan metrics (read after the timer stops)."""
        if not traced:
            return df.collect()
        with self.tracer.span(span):
            rows = df.collect()
        self._plans.append((kind, df))
        return rows

    def query(self, name: str, fn, check, batch: int = 0):
        """One query operation: `fn(traced)` returns comparable rows and
        `check(rows)` says whether they are right. An msearch of `batch`
        queries feeds msearch_qps instead of the query latencies. Returns
        the rows of the last variant that ran without raising, or None."""
        rows_out = None
        for traced in self._variants():
            self.attempted += 1
            tctx = self.tracer.active() if traced else contextlib.nullcontext()
            try:
                with tctx:
                    cpu0 = tree_cpu_s(os.getpid())
                    t0 = time.perf_counter()
                    if traced:
                        with self.tracer.span("bench.msearch" if batch
                                              else "bench.query." + name):
                            rows = fn(True)
                    else:
                        rows = fn(False)
                    ms = (time.perf_counter() - t0) * 1e3
                    cpu_ms = (tree_cpu_s(os.getpid()) - cpu0) * 1e3
                    for kind, df in self._plans:
                        self.scans.append((kind, plan_scans(df)))
            except Exception:
                self._fail(name, traceback.format_exc())
                continue
            finally:
                self._plans.clear()
            if not traced:
                self.loop_ms.setdefault(name, []).append(ms)
                self.loop_cpu_ms.setdefault(name, []).append(cpu_ms)
            if batch and not traced:
                self.msearch_queries += batch
                self.msearch_secs += ms / 1e3
            elif not batch:
                self.latency["traced" if traced else "plain"].append(ms)
            if not check(rows):
                self._fail(name, f"wrong result {rows}")
            rows_out = rows
        return rows_out

    def op(self, name: str, fn, check=None):
        """One write or set-up operation, traced when the run is traced.
        Returns fn's result, or None when it raised."""
        self.attempted += 1
        tctx = self.tracer.active() if self.tracer else \
            contextlib.nullcontext()
        try:
            with tctx:
                cpu0 = tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                out = fn()
                secs = time.perf_counter() - t0
                cpu_ms = (tree_cpu_s(os.getpid()) - cpu0) * 1e3
        except Exception:
            self._fail(name, traceback.format_exc())
            return None
        self.op_secs.setdefault(name, []).append(secs)
        self.op_cpu_ms.setdefault(name, []).append(cpu_ms)
        if self._in_loop:
            self.loop_ms.setdefault(name, []).append(secs * 1e3)
            self.loop_cpu_ms.setdefault(name, []).append(cpu_ms)
        if check is not None and not check(out):
            self._fail(name, "check failed")
        return out


def _search_rows(ex, q, mode: str, run: Run, kind: str):
    def fn(traced):
        df = ex.search(q, k=K, mode=mode)
        rows = run.collect(df, traced, kind, "exec.search.collect")
        return [(r["docid"], r["score"]) for r in rows]
    return fn


def _msearch_rows(ex, queries: dict, run: Run):
    def fn(traced):
        rows = run.collect(ex.msearch(queries, k=K), traced, "msearch",
                           "exec.msearch.collect")
        got: dict = {qid: [] for qid in queries}
        for r in rows:
            got[r["query_id"]].append((r["docid"], r["score"]))
        return got
    return fn


# -- search_sf01 --------------------------------------------------------------

def search_sf01(run: Run, seed: int) -> None:
    """Queries over the fixed 5,000-doc sf0.1-shaped corpus. At this size a
    query's latency is its Spark job count, not its scan cost."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparksearch import api, build, segments
    from sparksearch.corpus import pages_from_docs_frame
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.oracle import OracleIndex
    from sparksearch.queries import Bool, Match, MatchPhrase, Term

    t0 = time.perf_counter()
    run.start()
    spark = run.spark
    docs = sf01_documents()
    corpus = os.path.join(run.work, "corpus.parquet")
    pq.write_table(pa.Table.from_pylist(docs), corpus)
    pages = pages_from_docs_frame(spark.read.parquet(corpus))
    ix_dir = os.path.join(run.work, "index")

    def full_build():
        build.build_index(pages, ix_dir, n_buckets=8, partitions=CORES)
        return segments.build_segments(spark, ix_dir, salt_target=4096,
                                       n_chunks=2, partitions=CORES)

    if run.op("build", full_build,
              lambda _: segments_match_stats(spark, ix_dir)) is None:
        raise RuntimeError("set-up build failed")
    run.figures["setup_s"] = time.perf_counter() - t0
    run.figures["build_docs_per_s"] = len(docs) / run.op_secs["build"][0]
    run.figures["build_cpu_ms_per_doc"] = (run.op_cpu_ms["build"][0]
                                           / len(docs))
    run.figures["index_bytes_per_text_byte"] = dir_bytes(ix_dir) / sum(
        len(d["text"].encode()) for d in docs)

    by_url = sorted(({"url": url_of(d["doc_id"]), "text": d["text"],
                      "lang": d["lang"]} for d in docs),
                    key=lambda d: d["url"])
    docid_of = {d["url"]: i for i, d in enumerate(by_url)}
    oracle = OracleIndex(by_url)
    truth: dict = {}

    def want(q, k=K):
        key = repr(q)
        if key not in truth:
            truth[key] = oracle.search(q, k=len(by_url))
        return truth[key][:k]

    ex = Executor(IndexReader(spark, ix_dir))
    seg_ex = Executor(IndexReader(spark, ix_dir, use_segments=True))
    headline = {
        "match_or": Match("text", "hash join table"),
        "match_and": Match("text", "hash join table", operator="and"),
        "match_msm": Match("text", "scan slow fast", minimum_should_match=2),
        "phrase": MatchPhrase("text", "hash join"),
        "bool": Bool(must=[Match("text", "join")],
                     should=[Match("text", "fast"), Match("text", "slow")],
                     must_not=[Match("text", "error")],
                     filter=[Term("lang", "en")]),
    }
    rng = random.Random(seed)

    def run_search_op(body, q):
        def fn(traced):
            b = dict(body, profile=True) if traced else body
            resp = api.run_search(ex, b)
            if traced:
                run.total_hits_ms.extend(
                    p["time_ms"] for p in resp["profile"]["phases"]
                    if p["phase"].startswith("total_hits"))
            hits = [(docid_of[h["_id"]], h["_score"])
                    for h in resp["hits"]["hits"]]
            return hits, resp["hits"]["total"]["value"]
        return fn, lambda r: (same_ranking(r[0], want(q))
                              and r[1] == len(truth[repr(q)]))

    def one_round():
        ops = []
        for name, q in headline.items():
            ops.append((name, _search_rows(ex, q, "plan", run, "plan"),
                        lambda r, q=q: same_ranking(r, want(q))))
        for name in ("match_or", "match_and"):
            q = headline[name]
            ops.append(("wand_" + name[6:],
                        _search_rows(seg_ex, q, "wand", run, "wand"),
                        lambda r, q=q: same_ranking(r, want(q))))
        w = rng.sample(SF01_VOCAB, 2)
        lang = rng.choice(["en", "de", "fr"])
        ops.append(("dsl_bool", *run_search_op(
            {"query": {"bool": {"must": [{"match": {"text": " ".join(w)}}],
                                "filter": [{"term": {"lang": lang}}]}},
             "size": K},
            Bool(must=[Match("text", " ".join(w))],
                 filter=[Term("lang", lang)]))))
        batch = {f"m{i}": Match("text", " ".join(rng.sample(SF01_VOCAB, 2)),
                                operator=rng.choice(["or", "and"]))
                 for i in range(4)}
        # a fixed order: the first call of each path (plan codegen, the
        # Python decode workers' start-up) lands on the same operation in
        # every run
        for name, fn, check in ops:
            run.query(name, fn, check)
        run.query("msearch", _msearch_rows(ex, batch, run),
                  lambda got: all(same_ranking(rows, want(batch[qid]))
                                  for qid, rows in got.items()),
                  batch=len(batch))

    run.begin_loop()
    while run.another_round():
        one_round()
    run.end_loop()


# -- ingest_search ------------------------------------------------------------

#: synthetic corpus shape: 500 base docs and 100-doc generations of
#: 80-240 tokens over a 500-word Zipf-like vocabulary (segment encode and
#: merge cost grow with distinct terms); salt_target is low enough that
#: the head terms (df ≈ n_docs) are salted
INGEST_BASE = 500
INGEST_BATCH = 100
INGEST_BATCHES = 6
INGEST_VOCAB = 500
INGEST_SALT = 256


def ingest_search(run: Run, seed: int) -> None:
    """Generations committed beside reads: each round adds a generation,
    deletes by query, reads on both paths, and merges the segments."""
    from pyspark.sql import functions as F

    from sparksearch import build, deletes, merge, segments
    from sparksearch.corpus import synthesize_pages
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match

    t0 = time.perf_counter()
    run.start()
    spark = run.spark
    shape = dict(vocab=INGEST_VOCAB, min_len=80, max_len=240,
                 partitions=CORES)

    def pages(g):
        """Generation g's pages (generation 0 is the base corpus), made by
        JVM expressions whenever they are read."""
        if g == 0:
            return synthesize_pages(spark, INGEST_BASE, seed=seed, **shape)
        return (synthesize_pages(spark, INGEST_BATCH, seed=seed * 1000 + g,
                                 **shape)
                .withColumn("url", F.regexp_replace("url", "/p/", f"/g{g}/")))

    ix_dir = os.path.join(run.work, "index")

    def full_build():
        build.build_index(pages(0), ix_dir, n_buckets=8, partitions=CORES)
        return segments.build_segments(spark, ix_dir,
                                       salt_target=INGEST_SALT, n_chunks=2,
                                       partitions=CORES)

    if run.op("build", full_build,
              lambda _: segments_match_stats(spark, ix_dir)) is None:
        raise RuntimeError("set-up build failed")
    run.figures["setup_s"] = time.perf_counter() - t0
    run.figures["build_docs_per_s"] = INGEST_BASE / run.op_secs["build"][0]
    run.figures["build_cpu_ms_per_doc"] = (run.op_cpu_ms["build"][0]
                                           / INGEST_BASE)
    text_bytes = pages(0).agg(F.sum(F.octet_length("text"))).first()[0]
    run.figures["index_bytes_per_text_byte"] = dir_bytes(ix_dir) / text_bytes

    rng = random.Random(seed)

    def terms(lo, hi, n=2):
        return " ".join(f"w{r}" for r in rng.sample(range(lo, hi), n))

    # a narrow rank band, so every seed's terms have about the same df;
    # head terms are salted, so WAND decodes and prunes many blocks
    head = Match("text", terms(1, 5))
    doomed = Match("text", terms(450, 500, 1))

    def readers():
        return (Executor(IndexReader(spark, ix_dir)),
                Executor(IndexReader(spark, ix_dir, use_segments=True)))

    def gate(_):
        return segments_match_stats(spark, ix_dir)

    run.begin_loop()
    g = 0
    while g < INGEST_BATCHES and run.another_round():
        g += 1
        run.op("add_generation",
               lambda: merge.add_generation(
                   spark, ix_dir, pages(g), partitions=CORES,
                   salt_target=INGEST_SALT, n_chunks=2))
        run.op("delete_by_query",
               lambda: deletes.delete_by_query(spark, ix_dir, doomed))
        ex, seg_ex = readers()
        before = run.query("head_wand",
                           _search_rows(seg_ex, head, "wand", run, "wand"),
                           lambda r: True)
        run.query("head_plan", _search_rows(ex, head, "plan", run, "plan"),
                  lambda r: before is not None and same_ranking(r, before))
        run.op("merge_segments",
               lambda: merge.merge_segments(spark, ix_dir, partitions=CORES,
                                            salt_target=INGEST_SALT,
                                            n_chunks=2), gate)
        # the head query's salted blocks are the ones the merge rewrites
        _, seg_ex = readers()
        run.query("head_wand_merged",
                  _search_rows(seg_ex, head, "wand", run, "wand"),
                  lambda r: before is not None and same_ranking(r, before))
    run.end_loop()

    adds = run.op_secs.get("add_generation", [])
    run.figures["ingest_docs_per_s"] = (INGEST_BATCH * len(adds) / sum(adds)
                                        if adds else 0.0)
    merges = run.op_secs.get("merge_segments", [])
    run.figures["merge_s"] = sum(merges) / len(merges) if merges else 0.0


WORKLOADS = {"search_sf01": search_sf01, "ingest_search": ingest_search}
