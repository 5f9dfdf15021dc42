"""One BM25 kernel (bm25.py): the row-postings plan, block-max WAND,
explain and oracle.py score a (query, doc) pair bit-identically, so these
tests compare scores with ==.

The tied corpus makes the point sharp: every doc holds the same words, so
per-term scores are identical across docs and only the order in which a
path adds them could separate tied docs by an ULP and reorder the
(score desc, docid asc) top-k."""

import shutil

import pytest
from pyspark.sql import functions as F

from sparksearch.queries import Match, MatchPhrase

WORDS = "alpha bravo charlie delta echo foxtrot golf hotel".split()
SETTINGS = [(1.2, 0.75), (0.9, 0.4), (2.0, 1.0)]


def _top(ex, q, k, mode):
    return [(r["docid"], r["score"]) for r in
            ex.search(q, k=k, fetch=False, mode=mode).collect()]


@pytest.fixture(scope="module")
def tied(spark, tmp_path_factory):
    """400 docs holding the same 8 words; 1 in 7 also holds a filler word
    (a longer doc, so a slightly lower score). Returns a use_segments
    reader and the oracle over the same docs."""
    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_docs_frame
    from sparksearch.index import IndexReader
    from sparksearch.oracle import OracleIndex
    from sparksearch.segments import build_segments

    out = str(tmp_path_factory.mktemp("tiedix"))
    shutil.rmtree(out, ignore_errors=True)
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(" ".join(WORDS)),
                 F.when(F.col("id") % 7 == 0, F.lit(" filler"))
                 .otherwise(F.lit(""))).alias("text"))
    pages = pages_from_docs_frame(docs)
    build_index(pages, out, n_buckets=4, partitions=4)
    build_segments(spark, out, salt_target=64, n_chunks=1, partitions=4)
    rows = pages.select("url", "text").orderBy("url").collect()
    oracle = OracleIndex([{"url": r["url"], "text": r["text"]}
                          for r in rows])
    return IndexReader(spark, out, use_segments=True), oracle


TIED_QUERIES = ["alpha bravo", "charlie golf hotel", "bravo delta echo",
                "alpha echo foxtrot", "delta foxtrot golf hotel",
                "alpha bravo charlie delta echo foxtrot golf hotel"]


@pytest.mark.parametrize("k1,b", SETTINGS)
def test_tied_corpus_wand_equals_plan(tied, k1, b):
    from sparksearch.exec import Executor
    from sparksearch.similarity import BM25Similarity
    ix, _ = tied
    ex = Executor(ix, similarity=BM25Similarity(k1=k1, b=b))
    for text in TIED_QUERIES:
        q = Match("text", text)
        plan = _top(ex, q, 5, "plan")
        assert len(plan) == 5
        assert _top(ex, q, 5, "wand") == plan, text


def test_tied_corpus_plan_equals_oracle(tied):
    from sparksearch.exec import Executor
    ix, oracle = tied
    ex = Executor(ix)
    for text in TIED_QUERIES:
        q = Match("text", text)
        assert _top(ex, q, 5, "plan") == oracle.search(q, k=5), text


@pytest.mark.parametrize("k1,b", [(0.9, 0.4), (2.0, 1.0)])
def test_explain_sums_to_hit_score_under_tuned_bm25(index_sf0001, k1, b):
    """explain scores with the executor's (k1, b): each doc's
    contributions, each rounded to 6 decimals, sum to its hit score."""
    from sparksearch.exec import Executor
    from sparksearch.fetchops import explain_many
    from sparksearch.similarity import BM25Similarity
    ex = Executor(index_sf0001, similarity=BM25Similarity(k1=k1, b=b))
    for q in (Match("text", "hash join table"),
              MatchPhrase("text", "hash join")):
        hits = {r["docid"]: r["score"] for r in
                ex.search(q, k=10, fetch=False).collect()}
        assert hits
        rows = explain_many(ex, q, list(hits)).collect()
        for d, score in hits.items():
            parts = [r["contribution"] for r in rows if r["docid"] == d]
            assert parts
            assert abs(sum(parts) - score) <= 5e-7 * len(parts), (q, d)


def test_explain_refuses_non_bm25(index_sf0001):
    from sparksearch.exec import Executor
    from sparksearch.fetchops import explain_many
    from sparksearch.similarity import LMDirichletSimilarity
    ex = Executor(index_sf0001, similarity=LMDirichletSimilarity())
    with pytest.raises(NotImplementedError, match="LMDirichlet"):
        explain_many(ex, Match("text", "hash join"), [0, 1])


def test_wand_equals_plan_over_generations_with_deletes(spark, tmp_path):
    """WAND == plan on docids and scores, under default and tuned BM25,
    over unmerged generations with a delete between two adds (merged and
    expunged layouts: tests/test_merge.py)."""
    from sparksearch.build import build_index
    from sparksearch.corpus import synthesize_pages
    from sparksearch.deletes import delete_by_query
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.merge import add_generation
    from sparksearch.segments import build_segments
    from sparksearch.similarity import BM25Similarity

    out = str(tmp_path / "gens")
    pages = synthesize_pages(spark, 300, seed=5, vocab=40, min_len=5,
                             max_len=40, partitions=4)
    part = [pages.filter(F.crc32("url") % 3 == i) for i in range(3)]
    build_index(part[0], out, n_buckets=4, partitions=4)
    build_segments(spark, out, salt_target=64, n_chunks=1, partitions=4)
    add_generation(spark, out, part[1], partitions=4, salt_target=64)
    assert delete_by_query(spark, out, Match("text", "w30")) > 0
    add_generation(spark, out, part[2], partitions=4, salt_target=64)
    ix = IndexReader(spark, out, use_segments=True)
    assert len(ix.generations) == 3
    for k1, b in SETTINGS[:2]:
        ex = Executor(ix, similarity=BM25Similarity(k1=k1, b=b))
        for q in (Match("text", "w1 w2"), Match("text", "w3 w11 w20"),
                  Match("text", "w2 w2 w7", operator="and"),
                  Match("text", "w1 w5 w9", minimum_should_match=2)):
            plan = _top(ex, q, 10, "plan")
            assert plan, q
            assert _top(ex, q, 10, "wand") == plan, (k1, b, q)
