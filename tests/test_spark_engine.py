"""End-to-end Spark engine: build → query → rank-identity vs oracle.

The gate (SURVEY.md §5 / BASELINE.md): every query's top-k docids must match
the Python oracle exactly. Match and exact-phrase scores are == on the plan
path and (for match) on block-max WAND, since every path scores with the
bm25.py kernel; sloppy phrases and bool combinations, whose frequency and
clause sums add in arrival order, are compared within rtol 1e-6.
"""

from __future__ import annotations

import pytest

from sparksearch.exec import Executor
from sparksearch.queries import Bool, Match, MatchPhrase, Prefix, Range, Term

K = 10


def run_both(index, oracle, q, k=K):
    ex = Executor(index)
    got = [(r["docid"], r["score"]) for r in
           ex.search(q, k=k, fetch=False).collect()]
    want = oracle.search(q, k=k)
    return got, want


def assert_rank_identical(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-6)


@pytest.fixture(scope="module")
def wand_index(spark, index_sf0001, tmp_path_factory):
    """A use_segments reader over a copy of the session index."""
    import shutil

    from sparksearch.index import IndexReader
    from sparksearch.segments import build_segments
    out = str(tmp_path_factory.mktemp("wandix"))
    shutil.copytree(index_sf0001.index_dir, out, dirs_exist_ok=True)
    build_segments(spark, out, salt_target=64, n_chunks=1, partitions=4)
    return IndexReader(spark, out, use_segments=True)


def test_build_meta(index_sf0001, oracle_sf0001):
    oracle, _ = oracle_sf0001
    assert index_sf0001.n_docs == oracle.n_docs == 500
    assert index_sf0001.avgdl == pytest.approx(oracle.avgdl, rel=1e-9)


def test_docid_dictionary_is_url_order(index_sf0001, oracle_sf0001):
    _, docs = oracle_sf0001
    rows = index_sf0001.docs.orderBy("docid").select("docid", "url").collect()
    assert [r["url"] for r in rows] == [d["url"] for d in docs]
    assert [r["docid"] for r in rows] == list(range(len(docs)))


def test_stats_match_oracle(index_sf0001, oracle_sf0001):
    oracle, _ = oracle_sf0001
    for r in index_sf0001.stats.collect():
        assert oracle.df(r["term"]) == r["df"], r["term"]


@pytest.mark.parametrize("q", [
    Match("text", "spark"),
    Match("text", "hash join"),
    Match("text", "vector stream filter"),
    Match("text", "hash join", operator="and"),
    Match("text", "the big table", operator="and"),
    Match("text", "scan slow fast", minimum_should_match=2),
    Match("text", "absent_term_zzz"),
    Match("text", "spark spark value"),  # duplicate query term
], ids=["single", "or2", "or3", "and2", "and3", "msm2", "zero", "dup"])
def test_match_rank_identity(index_sf0001, oracle_sf0001, wand_index, q):
    oracle, _ = oracle_sf0001
    got, want = run_both(index_sf0001, oracle, q)
    assert got == want
    wand = [(r["docid"], r["score"]) for r in Executor(wand_index)
            .search(q, k=K, fetch=False, mode="wand").collect()]
    assert wand == want


@pytest.mark.parametrize("q", [
    MatchPhrase("text", "hash join"),
    MatchPhrase("text", "the table"),
    MatchPhrase("text", "key agg row"),
    MatchPhrase("text", "value value"),      # repeated word
    MatchPhrase("text", "spark zzz_absent"),
    MatchPhrase("text", "join hash", slop=2),       # transposition
    MatchPhrase("text", "hash table", slop=1),      # one-gap
    MatchPhrase("text", "hash join", slop=3),       # superset of exact
    MatchPhrase("text", "key agg row", slop=2),     # 3-term sloppy
], ids=["ph2", "ph_the", "ph3", "ph_rep", "ph_zero",
        "slop_transpose", "slop_gap", "slop_superset", "slop_3term"])
def test_phrase_rank_identity(index_sf0001, oracle_sf0001, q):
    oracle, _ = oracle_sf0001
    got, want = run_both(index_sf0001, oracle, q)
    if q.slop == 0:
        assert got == want
    else:
        assert_rank_identical(got, want)


@pytest.mark.parametrize("q", [
    Bool(must=[Match("text", "join")], must_not=[Match("text", "slow")]),
    Bool(must=[Match("text", "join"), Match("text", "fast")]),
    Bool(should=[Match("text", "merge"), Match("text", "batch")],
         minimum_should_match=2),
    Bool(should=[Match("text", "merge"), Match("text", "batch"),
                 Match("text", "window")], minimum_should_match="67%"),
    Bool(must=[Match("text", "query")],
         should=[Match("text", "fast"), Match("text", "slow")],
         must_not=[Match("text", "error")]),
    Bool(must_not=[Match("text", "the")]),   # pure negative
    Bool(must=[Match("text", "join")],
         filter=[Term("lang", "en")]),
    Bool(must=[Match("text", "join")],
         filter=[Range("warc_ts", gte="2025-01-01 00:01:00")]),
], ids=["mustnot", "must2", "should_msm2", "msm_pct", "mixed",
        "pure_neg", "filter_term", "filter_range"])
def test_bool_rank_identity(index_sf0001, oracle_sf0001, q):
    oracle, _ = oracle_sf0001
    ex = Executor(index_sf0001)
    got = [(r["docid"], r["score"]) for r in
           ex.search(q, k=K, fetch=False).collect()]
    # oracle needs the same filter semantics over metadata fields
    want = _oracle_with_meta(oracle_sf0001).search(q, k=K)
    assert_rank_identical(got, want)


def _oracle_with_meta(oracle_sf0001):
    oracle, docs = oracle_sf0001
    # augment oracle docs with metadata fields used by filters
    if "warc_ts" not in docs[0]:
        import datetime as dt
        for d in docs:
            doc_id = int(d["url"].rsplit("/", 1)[1])
            d["warc_ts"] = (
                dt.datetime(2025, 1, 1) + dt.timedelta(seconds=doc_id)
            ).strftime("%Y-%m-%d %H:%M:%S")
    return oracle


def test_fetch_returns_urls(index_sf0001):
    ex = Executor(index_sf0001)
    rows = ex.search(Match("text", "spark"), k=5, fetch=True).collect()
    assert len(rows) == 5
    assert all(r["url"].startswith("https://site") for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_prefix_and_ids(index_sf0001, oracle_sf0001):
    oracle, docs = oracle_sf0001
    ex = Executor(index_sf0001)
    n = ex.count(Prefix("url", "https://site1."))
    want = sum(1 for d in docs if d["url"].startswith("https://site1."))
    assert n == want


def test_extract_invariant_enforced(index_sf0001):
    # verify_extract=True in the fixture build — reaching here means the
    # byte-identical extract(html)==text gate passed for all 500 rows
    assert index_sf0001.meta["n_docs"] == 500


def test_bool_of_zero_term_match_clauses(index_sf0001):
    """Fusable match clauses that all analyze to zero terms plan unfused:
    no hits from them, and other clauses still apply."""
    ex = Executor(index_sf0001)
    q = Bool(should=[Match("text", "!!"), Match("text", "??")])
    assert ex.search(q, k=5, fetch=False).collect() == []
    q = Bool(must=[Match("text", "join")],
             must_not=[Match("text", "!!"), Match("text", "...")])
    want = ex.search(Match("text", "join"), k=5, fetch=False).collect()
    assert ex.search(q, k=5, fetch=False).collect() == want
