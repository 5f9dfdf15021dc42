"""Physical-plan assertions: the engine must produce the plans it promises
— partition pruning on bucket, parquet filter pushdown on term, broadcast
fetch joins, TakeOrderedAndProject top-k, whole-stage codegen scoring."""

import pytest


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_documents
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    out = str(tmp_path_factory.mktemp("planix"))
    import shutil
    shutil.rmtree(out, ignore_errors=True)
    build_index(pages_from_documents(spark, "/root/testdata/sf0.001"),
                out, n_buckets=4, partitions=4)
    ix = IndexReader(spark, out)
    return ix, Executor(ix)


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_postings_scan_prunes_buckets_and_pushes_term(engine):
    ix, _ = engine
    df = ix.postings_for(["hash"])
    plan = _plan_str(df)
    # directory-partition pruning on bucket=...
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]
    # row-group pushdown on the sorted term column
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "term" in pushed and ("EqualTo" in pushed or "In(" in pushed)


def test_fetch_join_is_broadcast(engine):
    from sparksearch.queries import Match
    _, ex = engine
    plan = _plan_str(ex.search(Match("text", "hash join"), k=10))
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(engine):
    from sparksearch.queries import Match
    _, ex = engine
    scored = ex._plan(Match("text", "hash"), scored=True)
    from pyspark.sql import functions as F
    topk = scored.orderBy(F.col("score").desc(),
                          F.col("docid").asc()).limit(10)
    assert "TakeOrderedAndProject" in _plan_str(topk)


def test_scoring_is_whole_stage_codegen(engine):
    """The BM25 score expression must run inside whole-stage codegen (no
    Python in the query hot path)."""
    from sparksearch.queries import Match
    _, ex = engine
    plan = _plan_str(ex._plan(Match("text", "hash join"), scored=True))
    # zero Python nodes in the scoring plan (AQE hides WholeStageCodegen in
    # the pre-execution string, so assert the absence of the Python escape
    # hatches plus map-side partial aggregation instead)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    # map-side combine before the exchange: each doc's (term, score)
    # list, which exec._combine folds in sorted-term order
    assert "partial_collect_list" in plan


def test_docvalue_filter_pushdown(engine):
    from pyspark.sql import functions as F
    ix, _ = engine
    df = ix.docs.filter(F.col("lang") == "en").select("docid")
    plan = _plan_str(df)
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters", 1)[1][:200]


def test_term_scores_read_no_stats_table(engine):
    """Term statistics come from the reader's cached stats_for dict as
    literal maps: the scoring plan scans only postings and joins
    nothing."""
    import re
    from sparksearch.queries import Match
    ix, ex = engine
    plan = _plan_str(ex._plan(Match("text", "hash join"), scored=True))
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    assert scans and all("postings" in s for s in scans), plan
    assert ix.stats_path not in plan, plan
    assert "Join" not in plan, plan


def _job_count(spark, action) -> int:
    """Spark jobs run by `action`, counted through a job group."""
    import uuid
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count gate")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _search_jobs(spark, ex, q, mode) -> tuple[int, int]:
    """(jobs while planning, jobs in total) of one search on a warm
    reader: the same query ran once before, so relations and term stats
    are cached."""
    ex.search(q, k=10, mode=mode).collect()
    out = {}
    planning = _job_count(
        spark, lambda: out.setdefault("df", ex.search(q, k=10, mode=mode)))
    return planning, planning + _job_count(spark, out["df"].collect)


def test_plan_match_job_count(engine, spark):
    """Job-count gate, free of host noise: a warm plan-path match plans
    with no Spark job and runs in at most 3."""
    from sparksearch.queries import Match
    _, ex = engine
    planning, total = _search_jobs(spark, ex, Match("text", "hash join"),
                                   "plan")
    assert planning == 0
    assert total <= 3


def test_wand_match_job_count(engine, spark):
    """A warm WAND match runs at most 5 jobs, its seed included."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match
    from sparksearch.segments import build_segments
    ix, _ = engine
    build_segments(spark, ix.index_dir, n_chunks=1, partitions=4)
    ex = Executor(IndexReader(spark, ix.index_dir, use_segments=True))
    _, total = _search_jobs(spark, ex, Match("text", "hash join"), "wand")
    assert total <= 5


@pytest.fixture(scope="module")
def tomb_engine(engine, spark, tmp_path_factory):
    """use_segments Executor over a copy of the module's index whose
    tombstones hit the top-10 of "hash join", plus a plain Executor over
    the same commit."""
    import shutil
    from sparksearch.deletes import delete_by_query
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Term
    from sparksearch.segments import build_segments

    out = str(tmp_path_factory.mktemp("tombix"))
    shutil.copytree(engine[0].index_dir, out, dirs_exist_ok=True)
    build_segments(spark, out, salt_target=256, n_chunks=1, partitions=4)
    assert delete_by_query(spark, out, Term("lang", "en")) > 0
    return (Executor(IndexReader(spark, out, use_segments=True)),
            Executor(IndexReader(spark, out)))


def _refuse_local_frames(monkeypatch) -> None:
    """Make every DataFrame built from driver-side rows (a Python-worker
    stage) raise."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    def refuse(*a, **kw):
        raise AssertionError("driver-side rows turned into a DataFrame")
    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)


def _top(df) -> list[tuple]:
    return [(r["docid"], r["score"]) for r in df.collect()]


def test_wand_with_deletes_builds_no_local_frame(tomb_engine, monkeypatch):
    """WAND drops tombstoned seed postings inside its own plan: on an
    index with deletes it builds no DataFrame from driver-side rows (a
    Python-worker stage) and still returns the plan path's top-10."""
    from sparksearch.queries import Match
    wand_ex, plan_ex = tomb_engine
    q = Match("text", "hash join")
    want = _top(plan_ex.search(q, k=10, fetch=False, mode="plan"))
    assert want
    _refuse_local_frames(monkeypatch)
    got = _top(wand_ex.search(q, k=10, fetch=False, mode="wand"))
    assert got == want


def test_wand_with_deletes_job_count(tomb_engine, spark):
    """On a tombstoned reader a warm WAND match runs at most 7 jobs, and
    one whose terms the index does not hold at most 1 (no seed job)."""
    from sparksearch.queries import Match
    ex, _ = tomb_engine
    _, total = _search_jobs(spark, ex, Match("text", "hash join"), "wand")
    assert total <= 7
    _, total = _search_jobs(spark, ex, Match("text", "zzqxv qqzxw"), "wand")
    assert total <= 1


def test_wand_k0_returns_empty(tomb_engine):
    """k=0 returns no hits on both paths, also when the seed holds no
    candidate (an AND query with a term the index does not hold)."""
    from sparksearch.queries import Match
    wand_ex, plan_ex = tomb_engine
    q = Match("text", "hash zzqxv", operator="and")
    assert wand_ex.search(q, k=0, mode="wand").collect() == []
    assert plan_ex.search(q, k=0, mode="plan").collect() == []


def test_bm25_plans_run_no_logarithm(tomb_engine):
    """BM25 idf is a driver float (bm25.py kernel): the optimized plans of
    a plan-path match and a WAND match hold no logarithm, whose JVM
    rounding differs from the driver's."""
    from sparksearch.queries import Match
    wand_ex, plan_ex = tomb_engine
    q = Match("text", "hash join")
    for df in (plan_ex.search(q, k=10, mode="plan"),
               wand_ex.search(q, k=10, mode="wand")):
        opt = _optimized_str(df).upper()
        assert "LOG1P" not in opt and "LOG(" not in opt, opt


def test_query_literal_frames_run_no_python(engine, monkeypatch):
    """Fuzzy match and the term suggester carry their query-side rows as
    JVM literals, not as a DataFrame scanned from a Python list."""
    from sparksearch.fetchops import suggest_terms
    from sparksearch.queries import Match
    ix, ex = engine
    _refuse_local_frames(monkeypatch)
    frames = {
        "fuzzy": ex.search(Match("text", "hasj joim", fuzziness=1,
                                 fuzzy_transpositions=False), k=10),
        "suggest": suggest_terms(ix, "hsah"),
    }
    for name, df in frames.items():
        assert df.collect(), name
        assert "Scan ExistingRDD" not in _plan_str(df), name


def test_fresh_reader_first_query_runs_no_schema_job(engine, spark):
    """Opening a reader reads its tables (the segment blocks too on a
    use_segments reader), so its first query runs the warm query's jobs
    plus one term-stats collect, and no schema job."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match
    from sparksearch.segments import build_segments
    ix, _ = engine
    build_segments(spark, ix.index_dir, n_chunks=1, partitions=4)
    q = Match("text", "hash join")
    for use_segments, mode, warm in ((False, "plan", 3), (True, "wand", 5)):
        ex = Executor(IndexReader(spark, ix.index_dir,
                                  use_segments=use_segments))
        jobs = _job_count(spark,
                          lambda: ex.search(q, k=10, mode=mode).collect())
        assert jobs <= warm + 1, (mode, jobs)


def test_segment_paths_run_no_python(engine, spark):
    """Packed blocks serve WAND only: on a use_segments reader a
    plan-path match scans the row postings and decodes no blocks. The
    WAND match and the block decode merge uses hold no Python-worker
    node, and WAND's scans read no positions."""
    import re
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match
    from sparksearch.segments import (SegmentsReader, build_segments,
                                      decode_blocks)
    ix, _ = engine
    build_segments(spark, ix.index_dir, n_chunks=1, partitions=4)
    ex = Executor(IndexReader(spark, ix.index_dir, use_segments=True))
    q = Match("text", "hash join")
    plan = _plan_str(ex.search(q, k=10, mode="plan"))
    assert "/postings" in plan and "/segments" not in plan, plan
    assert "arrays_zip" not in plan, plan
    plans = {
        "wand": _plan_str(ex.search(q, k=10, mode="wand")),
        "decode_blocks": _plan_str(decode_blocks(
            SegmentsReader(spark, ix.index_dir).blocks)),
    }
    assert "/segments" in plans["wand"]
    schemas = re.findall(r"ReadSchema: (struct<[^ ]*)", plans["wand"])
    assert schemas and not any("positions" in r for r in schemas), schemas
    for path, p in plans.items():
        for node in ("MapInPandas", "FlatMapGroupsInPandas",
                     "ArrowEvalPython", "BatchEvalPython"):
            assert node not in p, (path, p)


def test_run_search_bool_filter_job_count(engine, spark):
    """A warm run_search of a bool match + term filter body, total hits
    included, runs at most 8 jobs."""
    from sparksearch.api import run_search
    _, ex = engine
    body = {"query": {"bool": {"must": [{"match": {"text": "hash join"}}],
                               "filter": [{"term": {"lang": "en"}}]}},
            "size": 10}
    run_search(ex, body)
    assert _job_count(spark, lambda: run_search(ex, body)) <= 8


def test_column_pruning_docs(engine):
    """A 2-column projection must not read the whole docs schema."""
    ix, _ = engine
    plan = _plan_str(ix.docs.select("docid", "url"))
    rs = plan.split("ReadSchema", 1)[1][:250]
    assert "docid" in rs and "url" in rs
    assert "warc_ts" not in rs and "dl_q" not in rs


def test_bool_fused_single_postings_scan(engine):
    """A 4-clause bool of match queries must plan through ONE postings scan
    (the fused path) and its docvalue filters through ONE docs scan — not
    one scan per clause."""
    import re
    from sparksearch.queries import Bool, Match, Range, Term
    _, ex = engine
    q = Bool(must=[Match("text", "join")],
             should=[Match("text", "fast"), Match("text", "slow")],
             must_not=[Match("text", "error")],
             filter=[Term("lang", "en"),
                     Range("warc_ts", gte="2025-01-01 00:01:00")])
    plan = _plan_str(ex._plan(q, scored=True))
    postings_scans = len(re.findall(r"FileScan parquet[^\n]*postings", plan))
    docs_scans = len(re.findall(r"FileScan parquet[^\n]*/docs/", plan))
    assert postings_scans == 1, f"{postings_scans} postings scans\n{plan}"
    assert docs_scans == 1, f"{docs_scans} docs scans\n{plan}"
    # both filter predicates pushed into the single docs scan
    dv_scan = [seg for seg in plan.split("FileScan")
               if "/docs/" in seg][0]
    assert "lang" in dv_scan and "warc_ts" in dv_scan


def test_api_post_filter_is_semi_join(engine):
    from sparksearch.api import search_df
    _, ex = engine
    body = {"query": {"match": {"text": "hash"}},
            "post_filter": {"term": {"lang": "en"}},
            "size": 5, "_source": False}
    plan = _plan_str(search_df(ex, body))
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_api_capped_total_is_collect_limit(engine):
    from pyspark.sql import functions as F

    from sparksearch.dsl import from_dsl
    _, ex = engine
    # the capped-total plan must stop producing at cap+1, not count all
    matched = ex._plan(from_dsl({"match": {"text": "hash"}}), scored=False)
    plan = _plan_str(matched.limit(101))
    assert "CollectLimit" in plan or "GlobalLimit" in plan


def test_api_nested_agg_broadcasts_outer_top(engine):
    from sparksearch.api import aggs_df
    _, ex = engine
    body = {"aggs": {"langs": {
        "terms": {"field": "lang", "size": 3},
        "aggs": {"h": {"histogram": {"field": "dl", "interval": 25}}}}}}
    plan = _plan_str(aggs_df(ex, body))
    # outer top-N keys semi-join back as a broadcast, never a shuffle join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "partial_count" in plan  # map-side combine on the groupBys


def test_domain_cap_preprune_before_global_window(engine):
    from pyspark.sql import functions as F

    from sparksearch.corpus import pages_from_documents
    from sparksearch.dataops import domain_cap
    ix, _ = engine
    pages = pages_from_documents(ix.spark, "/root/testdata/sf0.001") \
        .select(F.monotonically_increasing_id().alias("docid"), "url")
    plan = _plan_str(domain_cap(pages, cap=5))
    # two window stages: the skew-free (host, pid) pre-prune, then the
    # per-host global rank over <= cap*P survivors
    assert plan.count("RunningWindowFunction") >= 2 or \
        plan.count("Window") >= 2


def test_nested_filter_is_single_scan_no_python(engine):
    """A nested query plans as one exists() predicate inside the docs
    scan — no shuffle, no Python, no per-element materialization."""
    from pyspark.sql import functions as F
    from sparksearch.nested import nested_cond
    from sparksearch.queries import Bool, Range, Term
    ix, _ = engine
    side = ix.docs.select(
        "url", F.expr("array(struct('h' AS kind, dl AS weight))")
        .alias("blocks"))
    docs = ix.with_docvalues(side).docs
    q = Bool(must=[Term("blocks.kind", "h"), Range("blocks.weight", gt=50)])
    df = docs.filter(nested_cond("blocks", q)).select("docid")
    plan = _plan_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "exists" in plan.lower()
    # predicate evaluates pre-join on the sidecar leg: no shuffle beyond
    # the sidecar join itself (both legs scan the same docs parquet)
    assert plan.count("Exchange") <= 2


def test_pipeline_windows_not_single_task(spark):
    """Pipeline-agg windows (cumulative/derivative/moving) must run over
    range partitions with boundary carry rows — NO single-partition
    global Window (a 10^7-bucket composite stream would serialize).
    Values must equal the naive global-window form."""
    import datetime

    from pyspark.sql import Window, functions as F
    from sparksearch.aggs import moving_window_aggs, ranged_pipeline_frame

    rows = [(datetime.datetime(2025, 1, 1) + datetime.timedelta(hours=i),
             (i * 7) % 13 + 1) for i in range(200)]
    buckets = spark.createDataFrame(rows, "key timestamp, doc_count long")

    out = moving_window_aggs(buckets, window=4, lag=2, n_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window node must be partitioned (partitionBy _pid) — a bare
    # `Window [..orderBy..]` with empty partition spec funnels one task
    import re
    for m in re.finditer(r"Window \[[^\]]*\], \[\]", plan):
        raise AssertionError(f"unpartitioned global window: {m.group(0)}")
    got = out.orderBy("key").collect()

    # naive single-task reference
    m = F.col("doc_count").cast("double")
    w = Window.orderBy("key").rowsBetween(-3, 0)
    lw = Window.orderBy("key")
    ref = (buckets
           .withColumn("moving_avg", F.round(F.avg(m).over(w), 6))
           .withColumn("moving_max", F.max(m).over(w))
           .withColumn("serial_diff", (m - F.lag(m, 2).over(lw))
                       .cast("double"))
           .orderBy("key").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]

    # cumulative offsets: ranged frame + offsets == global running sum
    base, off = ranged_pipeline_frame(buckets, key="key", carry=1,
                                      n_partitions=8,
                                      cum_metrics=("doc_count",))
    cw = (Window.partitionBy("_pid").orderBy("key")
          .rowsBetween(Window.unboundedPreceding, 0))
    run = F.sum(F.when(~F.col("_carry"), F.col("doc_count"))
                .otherwise(F.lit(0))).over(cw)
    cum = (base.withColumn("c", (run + off["doc_count"]).cast("long"))
           .where(~F.col("_carry")).orderBy("key").select("c").collect())
    want = []
    acc = 0
    for _, dc in rows:
        acc += dc
        want.append(acc)
    assert [r["c"] for r in cum] == want


def test_pipeline_windows_short_partitions(spark):
    """Partitions SHORTER than the trailing window: the rolling carry
    buffer must splice boundary rows from more than one partition back."""
    import datetime

    from pyspark.sql import Window, functions as F
    from sparksearch.aggs import moving_window_aggs

    rows = [(datetime.datetime(2025, 1, 1) + datetime.timedelta(hours=i),
             (i * 5) % 11 + 1) for i in range(10)]
    buckets = spark.createDataFrame(rows, "key timestamp, doc_count long")
    got = moving_window_aggs(buckets, window=5, lag=3,
                             n_partitions=8).orderBy("key").collect()
    m = F.col("doc_count").cast("double")
    w = Window.orderBy("key").rowsBetween(-4, 0)
    lw = Window.orderBy("key")
    ref = (buckets
           .withColumn("moving_avg", F.round(F.avg(m).over(w), 6))
           .withColumn("moving_max", F.max(m).over(w))
           .withColumn("serial_diff", (m - F.lag(m, 3).over(lw))
                       .cast("double"))
           .orderBy("key").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_highlight_fvh_plan_broadcasts_hits(engine, spark):
    """FVH joins are broadcast on the k-row side; no shuffle join of the
    corpus against the hit list, no cartesian product."""
    from sparksearch.corpus import pages_from_documents
    from sparksearch.fetchops import highlight_fvh
    from sparksearch.queries import Match
    ix, ex = engine
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    topk = ex.search(Match("text", "join"), k=3)
    plan = _plan_str(highlight_fvh(ex, topk, pages, ["join"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # match positions come from the postings scan, term-pruned
    assert "postings" in plan


def test_hard_negatives_plan_broadcasts_anchors(spark):
    """Anchor side is broadcast; per-anchor top-k window partitions by
    anchor (no global unpartitioned window)."""
    from sparksearch.dataops import hard_negatives
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = hard_negatives(emb, [0, 1], k=3)
    plan = _plan_str(df)
    assert "Broadcast" in plan            # broadcast nested-loop on anchors
    assert "Window" in plan
    # the top-k window is partitioned by anchor_id, never a global window
    opt = _optimized_str(df).lower()
    assert "windowspecdefinition(anchor_id" in opt


def test_dfr_dfi_ib_scoring_stays_catalyst(engine):
    """Every BUILT_IN similarity's score expression compiles to pure
    Catalyst columns — no Python escape hatch may appear in any
    similarity's scoring plan (the formulas are log/pow arithmetic
    over the same single-scan posting join as BM25)."""
    from sparksearch.exec import Executor
    from sparksearch.queries import Match
    ix, _ = engine
    sims = [
        {"type": "DFR", "basic_model": "g", "after_effect": "b",
         "normalization": "h2"},
        {"type": "DFI", "independence_measure": "chisquared"},
        {"type": "IB", "distribution": "spl", "lambda": "ttf",
         "normalization": "h1"},
    ]
    for cfg in sims:
        ex = Executor(ix, similarity=cfg)
        plan = _plan_str(ex._plan(Match("text", "hash join"),
                                  scored=True))
        assert "BatchEvalPython" not in plan, cfg
        assert "ArrowEvalPython" not in plan, cfg
        assert "MapInPandas" not in plan, cfg


def test_significant_text_analyzes_only_foreground(engine, spark):
    """significant_text's re-analysis UDF must sit above the broadcast
    foreground semi-join, not over the whole corpus scan: the plan
    joins BEFORE the ArrowEval node's input, so the Python batch sees
    only matching docs."""
    from sparksearch.aggs import significant_text
    from sparksearch.corpus import pages_from_documents
    from sparksearch.queries import Match
    ix, ex = engine
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    df = significant_text(ex, pages, Match("text", "scan"), size=5,
                          min_doc_count=2)
    plan = _plan_str(df)
    # the foreground reaches the UDF through a broadcast join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # exactly one Arrow eval — the re-analysis itself
    assert plan.count("ArrowEvalPython") == 1
