"""Soft deletes: delete_by_query liveDocs semantics (results exclude,
stats keep counting until merge), WAND-path parity, update_by_query, and
expunge_deletes equivalence with a fresh build over the survivors."""

import shutil

import pytest
from pyspark.sql import functions as F

from sparksearch.queries import Bool, Match, Range, Term


def _pages(spark):
    from sparksearch.corpus import pages_from_documents
    return pages_from_documents(spark, "/root/testdata/sf0.001")


@pytest.fixture()
def del_index(spark, tmp_path_factory):
    from sparksearch.build import build_index
    out = str(tmp_path_factory.mktemp("delix"))
    shutil.rmtree(out, ignore_errors=True)
    build_index(_pages(spark), out, n_buckets=4, partitions=4)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _ex(spark, out, use_segments=False):
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    return Executor(IndexReader(spark, out, use_segments=use_segments))


def test_delete_by_query_hides_docs_keeps_stats(spark, del_index):
    from sparksearch.deletes import delete_by_query

    ex0 = _ex(spark, del_index)
    before = {r["docid"]: r["score"] for r in
              ex0.search(Match("text", "join"), k=1000, fetch=False)
              .collect()}
    n0, avg0 = ex0.ix.n_docs, ex0.ix.avgdl
    de_ids = {r["docid"] for r in
              ex0.ix.docs.filter(F.col("lang") == "de")
              .select("docid").collect()}

    n = delete_by_query(spark, del_index, Term("lang", "de"))
    assert n == len(de_ids) > 0

    ex1 = _ex(spark, del_index)
    # pre-merge Lucene semantics: stats unchanged, results exclude
    assert ex1.ix.n_docs == n0 and ex1.ix.avgdl == avg0
    after = {r["docid"]: r["score"] for r in
             ex1.search(Match("text", "join"), k=1000, fetch=False)
             .collect()}
    assert set(after) == set(before) - de_ids
    for d, s in after.items():   # surviving scores identical pre-merge
        assert s == before[d]
    assert ex1.ix.docs.filter(F.col("lang") == "de").count() == 0

    # second delete stacks a second tombstone
    n2 = delete_by_query(spark, del_index,
                         Bool(filter=[Range("dl", gte=90)]))
    ex2 = _ex(spark, del_index)
    assert len(ex2.ix.delete_files) == 2
    assert ex2.ix.docs.filter(F.col("dl") >= 90).count() == 0
    assert ex2.ix.n_deleted == n + n2


def test_delete_wand_path_parity(spark, del_index):
    from sparksearch.deletes import delete_by_query
    from sparksearch.segments import build_segments

    build_segments(spark, del_index, salt_target=4096, n_chunks=1,
                   partitions=4)
    delete_by_query(spark, del_index, Term("lang", "en"))

    plan = _ex(spark, del_index).search(
        Match("text", "join"), k=10, fetch=False).collect()
    wand = _ex(spark, del_index, use_segments=True).search(
        Match("text", "join"), k=10, fetch=False, mode="wand").collect()
    assert [(r["docid"], r["score"]) for r in plan] \
        == [(r["docid"], r["score"]) for r in wand]
    langs = {r["lang"] for r in
             _ex(spark, del_index).search(Match("text", "join"), k=10)
             .join(_ex(spark, del_index).ix.docs.select("docid", "lang"),
                   "docid").collect()}
    assert "en" not in langs


def test_expunge_matches_fresh_build(spark, del_index, tmp_path_factory):
    from sparksearch.build import build_index
    from sparksearch.deletes import delete_by_query, expunge_deletes

    delete_by_query(spark, del_index, Term("lang", "de"))
    meta = expunge_deletes(spark, del_index, partitions=4)
    assert meta["deletes"] == [] and meta["n_deleted"] == 0

    fresh = str(tmp_path_factory.mktemp("freshix"))
    build_index(_pages(spark).filter(F.col("lang") != "de"), fresh,
                n_buckets=4, partitions=4)

    exa, exb = _ex(spark, del_index), _ex(spark, fresh)
    assert exa.ix.n_docs == exb.ix.n_docs
    assert exa.ix.avgdl == exb.ix.avgdl
    for q in [Match("text", "join"), Match("text", "hash join table")]:
        a = {r["url"]: r["score"] for r in exa.search(q, k=1000).collect()}
        b = {r["url"]: r["score"] for r in exb.search(q, k=1000).collect()}
        assert a == b
    shutil.rmtree(fresh, ignore_errors=True)


def test_expunge_rebuilds_segments(spark, del_index):
    from sparksearch.deletes import delete_by_query, expunge_deletes
    from sparksearch.index import IndexReader
    from sparksearch.segments import build_segments

    build_segments(spark, del_index, salt_target=4096, n_chunks=1,
                   partitions=4)
    delete_by_query(spark, del_index, Term("lang", "de"))
    expunge_deletes(spark, del_index, partitions=4, salt_target=4096)

    ix = IndexReader(spark, del_index, use_segments=True)
    assert ix.segments_cover_all()
    wand = _ex(spark, del_index, use_segments=True).search(
        Match("text", "join"), k=10, fetch=False, mode="wand").collect()
    plan = _ex(spark, del_index).search(
        Match("text", "join"), k=10, fetch=False).collect()
    assert [(r["docid"], r["score"]) for r in wand] \
        == [(r["docid"], r["score"]) for r in plan]


def test_expunge_refuses_when_every_doc_is_deleted(spark, del_index):
    """Tombstones over every doc: expunge_deletes raises before writing
    anything and the index stays as it was."""
    import os

    from sparksearch.deletes import delete_by_query, expunge_deletes
    from sparksearch.queries import MatchAll

    n = delete_by_query(spark, del_index, MatchAll())
    assert n == _ex(spark, del_index).ix.n_docs
    with open(f"{del_index}/meta.json") as f:
        meta = f.read()
    listing = sorted(os.walk(del_index))
    with pytest.raises(ValueError, match="all .* docs .* are deleted"):
        expunge_deletes(spark, del_index, partitions=4)
    with open(f"{del_index}/meta.json") as f:
        assert f.read() == meta
    assert sorted(os.walk(del_index)) == listing
    assert _ex(spark, del_index).search(
        Match("text", "join"), k=10).collect() == []


def test_update_by_query(spark, del_index):
    from sparksearch.deletes import update_by_query
    from sparksearch.index import IndexReader

    q = Bool(filter=[Range("dl", gte=95)])
    ix0 = IndexReader(spark, del_index)
    n_target = ix0.docs.filter(F.col("dl") >= 95).count()
    assert n_target > 0

    n = update_by_query(
        spark, del_index, _pages(spark), q,
        lambda df: df.withColumn(
            "text", F.concat(F.lit("updated marker "), F.col("text"))))
    assert n == n_target

    ex = _ex(spark, del_index)
    hits = ex.search(Match("text", "marker"), k=1000, fetch=True).collect()
    assert len(hits) == n_target
    # updated docs are new-generation docids; old versions are gone
    assert ex.ix.docs.filter(F.col("dl") >= 95 + 2).count() >= n_target
