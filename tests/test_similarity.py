"""Configurable similarity modules (SimilarityService analogue)."""

import math

import pytest

from sparksearch.queries import Match, MatchPhrase
from sparksearch.similarity import (
    BM25Similarity,
    BooleanSimilarity,
    LMDirichletSimilarity,
    LMJelinekMercerSimilarity,
    from_config,
)


def test_from_config_parsing():
    assert from_config(None) == BM25Similarity()
    assert from_config({"type": "BM25", "k1": 1.6, "b": 0.9}) == \
        BM25Similarity(1.6, 0.9)
    assert from_config({"type": "boolean"}) == BooleanSimilarity()
    assert from_config({"type": "LMDirichlet", "mu": 500}) == \
        LMDirichletSimilarity(500.0)
    assert from_config({"type": "LMJelinekMercer", "lambda": 0.3}) == \
        LMJelinekMercerSimilarity(0.3)
    s = LMDirichletSimilarity(500.0)
    assert from_config(s) is s                     # passthrough
    assert from_config(s.to_config()) == s         # round trip
    with pytest.raises(ValueError):
        from_config({"type": "no_such_similarity"})
    assert BM25Similarity().is_default_bm25
    assert not BM25Similarity(1.6, 0.9).is_default_bm25
    assert not BooleanSimilarity().is_default_bm25


@pytest.mark.parametrize("k1,b", [(-0.1, 0.75), (float("inf"), 0.75),
                                  (float("nan"), 0.75), (1.2, -0.01),
                                  (1.2, 1.01), (1.2, float("nan"))])
def test_bm25_rejects_out_of_range_parameters(k1, b):
    """WAND's block bounds are exact only for k1 ≥ 0 and 0 ≤ b ≤ 1, so
    BM25 rejects anything else, from the class and from a config."""
    with pytest.raises(ValueError):
        BM25Similarity(k1, b)
    with pytest.raises(ValueError):
        from_config({"type": "BM25", "k1": k1, "b": b})


def test_bm25_accepts_range_edges():
    assert BM25Similarity(0.0, 0.0).to_config() == \
        {"type": "BM25", "k1": 0.0, "b": 0.0}
    assert BM25Similarity(2.0, 1.0).b == 1.0


def test_index_setting_persists_and_executor_uses_it(spark, tmp_path):
    """build_index(similarity=...) → meta.json → Executor default."""
    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_documents
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    out = str(tmp_path / "ix_lmd")
    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(200)
    meta = build_index(pages, out, n_buckets=4, partitions=4,
                       similarity={"type": "LMDirichlet", "mu": 500})
    assert meta["similarity"] == {"type": "LMDirichlet", "mu": 500.0}
    ix = IndexReader(spark, out)
    ex_default = Executor(ix)          # picks the index setting up
    assert ex_default.sim == LMDirichletSimilarity(500.0)
    ex_override = Executor(ix, similarity={"type": "boolean"})
    assert ex_override.sim == BooleanSimilarity()

    # LMDirichlet scores differ from BM25 but rank docs deterministically
    r = ex_default.search(Match("text", "join"), k=5, fetch=False).collect()
    assert len(r) == 5 and all(x.score >= 0 for x in r)
    # boolean similarity: single-term match scores exactly 1.0
    rb = ex_override.search(Match("text", "join"), k=5,
                            fetch=False).collect()
    assert all(x.score == 1.0 for x in rb)


def test_lmd_score_matches_formula(spark, index_sf0001):
    """Spot-check one doc's LMDirichlet score against the closed form."""
    from pyspark.sql import functions as F
    from sparksearch.exec import Executor

    ex = Executor(index_sf0001,
                  similarity={"type": "LMDirichlet", "mu": 2000})
    row = (ex._plan(Match("text", "join"), scored=True)
           .orderBy(F.col("score").desc(), "docid").limit(1).collect()[0])
    ix = index_sf0001
    post = (ix.postings_for(["join"])
            .filter(F.col("docid") == row.docid).collect()[0])
    cf = ix.stats_for(["join"])["join"][1]
    T = ix.meta["total_tf"]
    p = (cf + 1.0) / (T + 1.0)
    mu = 2000.0
    expect = max(0.0, math.log1p(post.tf / (mu * p))
                 + math.log(mu / (post.dl_q + mu)))
    assert row.score == pytest.approx(expect, rel=1e-9)


def test_non_bm25_guards(spark, index_sf0001):
    from sparksearch.exec import Executor

    ex = Executor(index_sf0001, similarity={"type": "boolean"})
    with pytest.raises(NotImplementedError):
        ex._plan(MatchPhrase("text", "hash join"), scored=True)
    # filter context (scored=False) never touches the similarity
    assert ex._plan(MatchPhrase("text", "hash join"),
                    scored=False).columns == ["docid", "score"]


def test_wand_falls_back_for_tuned_similarity(spark, index_sf0001):
    """mode=auto must route a non-default similarity through the plan path
    (the stored impact bounds are default-BM25 upper bounds)."""
    from sparksearch.exec import Executor

    ex = Executor(index_sf0001, similarity={"type": "BM25", "k1": 1.6,
                                            "b": 0.9})
    # no segments built for this fixture: auto already plans; assert the
    # gate directly instead of runtime behavior
    assert not ex.sim.is_default_bm25
    r = ex.search(Match("text", "hash join"), k=5, fetch=False).collect()
    assert len(r) == 5


def test_scripted_similarity_bindings():
    from sparksearch.similarity import ScriptedSimilarity
    s = from_config({"type": "scripted",
                     "script": {"source": "Math.sqrt(doc.freq)"}})
    assert s == ScriptedSimilarity("Math.sqrt(doc.freq)")
    assert from_config(s.to_config()) == s
    # compiles to a Catalyst column without touching Spark data
    col = s.score_expr(None, None, 100, 50.0, 5000)
    assert "SQRT" in str(col).upper()
