"""Round-2d surfaces: named queries / matched_queries, point-in-time
readers, runtime fields, Gopher repetition. Value parity is gated by the
DuckDB contract entries (contract_round2d.py); these check semantics the
oracle can't see — PIT isolation across commits, DSL `_name` plumbing,
runtime-field planning."""

import pytest
from pyspark.sql import functions as F

from sparksearch.exec import Executor
from sparksearch.queries import Bool, Match, Named, Range, Term


@pytest.fixture(scope="module")
def ex(index_sf0001):
    return Executor(index_sf0001)


# ---------------------------------------------------------------------------
# named queries
# ---------------------------------------------------------------------------

def test_named_plans_as_inner(ex):
    plain = ex.search(Match("text", "spark"), k=10, fetch=False).collect()
    named = ex.search(Named(Match("text", "spark"), "n1"), k=10,
                      fetch=False).collect()
    assert [(r.docid, r.score) for r in plain] == \
        [(r.docid, r.score) for r in named]


def test_matched_queries_membership(ex, index_sf0001):
    from sparksearch.fetchops import matched_queries
    q = Bool(must=[Match("text", "spark")],
             should=[Named(Term("lang", "en"), "is_en"),
                     Named(Range("dl", gte=40), "is_long")])
    hits = ex.search(q, k=10, fetch=False)
    out = matched_queries(ex, hits, q).collect()
    assert out
    meta = {r.docid: (r.lang, r.dl) for r in
            index_sf0001.docs.select("docid", "lang", "dl").collect()}
    for r in out:
        lang, dl = meta[r.docid]
        want = sorted((["is_en"] if lang == "en" else [])
                      + (["is_long"] if dl >= 40 else []))
        assert list(r.matched_queries) == want


def test_dsl_name_roundtrip():
    from sparksearch.dsl import from_dsl
    from sparksearch.fetchops import collect_named
    q = from_dsl({"bool": {
        "must": [{"match": {"text": {"query": "spark", "_name": "m"}}}],
        "filter": [{"term": {"lang": {"value": "en", "_name": "f"}}}]}})
    names = [n for n, _ in collect_named(q)]
    assert sorted(names) == ["f", "m"]


# ---------------------------------------------------------------------------
# point-in-time
# ---------------------------------------------------------------------------

def test_pit_pins_commit(spark, index_sf0001, tmp_path):
    import shutil

    from sparksearch.corpus import pages_from_documents
    from sparksearch.index import IndexReader, pit_reader
    from sparksearch.merge import add_generation
    from tests.conftest import TESTDATA

    out = str(tmp_path / "pit_ix")
    shutil.copytree(index_sf0001.index_dir, out)
    rd0 = IndexReader(spark, out)
    pit = rd0.open_pit()

    extra = (pages_from_documents(spark, f"{TESTDATA}/sf0.001")
             .limit(20)
             .withColumn("url", F.concat(F.lit("zz-"), F.col("url"))))
    add_generation(spark, out, extra, partitions=2)

    live = IndexReader(spark, out)
    pinned = pit_reader(spark, pit)
    assert live.n_docs == pinned.n_docs + 20
    # pinned scores are byte-stable vs the pre-commit engine
    before = Executor(rd0).search(Match("text", "spark"), k=5,
                                  fetch=False).collect()
    after_pit = Executor(pinned).search(Match("text", "spark"), k=5,
                                        fetch=False).collect()
    assert [(r.docid, r.score) for r in before] == \
        [(r.docid, r.score) for r in after_pit]
    # the live reader sees the new generation's docs
    assert live.docs.count() == pinned.docs.count() + 20


# ---------------------------------------------------------------------------
# runtime fields
# ---------------------------------------------------------------------------

def test_runtime_field_filter_and_plan(ex, index_sf0001):
    rix = index_sf0001.with_runtime(
        {"dl2": "doc['dl'].value * 2"})
    rex = Executor(rix)
    hits = rex.search(Bool(must=[Match("text", "spark")],
                           filter=[Range("dl2", gte=80)]),
                      k=50, fetch=False)
    dls = {r.docid: r.dl for r in
           index_sf0001.docs.select("docid", "dl").collect()}
    got = hits.collect()
    assert got and all(dls[r.docid] * 2 >= 80 for r in got)
    # the runtime expression must not add a scan: one docs subtree only
    plan = rix.docs.select("dl2")._jdf.queryExecution().executedPlan() \
        .toString()
    assert plan.count("Scan parquet") <= 1


def test_runtime_field_agg(index_sf0001):
    rix = index_sf0001.with_runtime(
        {"band": "doc['dl'].value >= 40 ? 1 : 0"
                 if _painless_has_ternary() else "doc['dl'].value"})
    row = rix.docs.agg(F.sum("band").alias("s")).collect()[0]
    assert row.s > 0


def _painless_has_ternary() -> bool:
    from sparksearch.painless import PainlessError, compile_script
    try:
        compile_script("1 > 0 ? 1 : 0")
        return True
    except (PainlessError, Exception):
        return False


# ---------------------------------------------------------------------------
# gopher repetition
# ---------------------------------------------------------------------------

def test_gopher_repetition_values(spark):
    from sparksearch.dataops import gopher_repetition
    rows = [
        (0, "a b a b a b a b"),            # one dominant bigram
        (1, "w x y z q r s t u v"),        # all distinct
        (2, "c d e c d e c d e"),          # repeated trigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_repetition(df).collect()}
    # doc0: "a b" occurs 4x of 7 bigrams; chars=8, covered=4*2=8 → capped 1.0
    assert out[0].top2_frac == 1.0 and out[0].flagged
    # doc1: every bigram unique → top2 = 2/10 chars = 0.2, no dup trigrams
    assert out[1].dup3_frac == 0.0 and not out[1].flagged
    # doc2: "c d e" occurs 3x → dup3 covers 9 of 9 chars
    assert out[2].dup3_frac == 1.0 and out[2].flagged
