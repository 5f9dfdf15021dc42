"""Index-sort early termination: pruned sorted top-k == full-scan truth."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparksearch.build import build_index
from sparksearch.corpus import pages_from_documents
from sparksearch.index import IndexReader
from sparksearch.merge import add_generation
from sparksearch.sortedscan import sorted_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sorted_ix(spark):
    out = tempfile.mkdtemp(prefix="sparksearch_sorted_")
    pages = pages_from_documents(spark, SF)
    # dl (token count) has heavy ties — stresses the boundary tie logic
    build_index(pages.filter(F.col("lang") != "fr"), out,
                n_buckets=4, partitions=8, index_sort=("dl", True))
    yield IndexReader(spark, out)
    shutil.rmtree(out, ignore_errors=True)


def _truth(ix, k, asc=True, flt=None):
    df = ix.docs
    if flt is not None:
        df = df.filter(flt)
    order = [F.col("dl").asc() if asc else F.col("dl").desc(),
             F.col("docid").asc()]
    return [(r.docid, r.dl) for r in
            df.orderBy(*order).limit(k).select("docid", "dl").collect()]


def test_sorted_topk_prunes_and_matches(sorted_ix):
    info = {}
    got = [(r.docid, r.dl) for r in
           sorted_topk(sorted_ix, 10, info=info)
           .select("docid", "dl").collect()]
    assert got == _truth(sorted_ix, 10)
    assert info["files_total"] > 1
    assert info["files_scanned"] < info["files_total"]


def test_sorted_topk_desc(sorted_ix):
    info = {}
    got = [(r.docid, r.dl) for r in
           sorted_topk(sorted_ix, 7, asc=False, info=info)
           .select("docid", "dl").collect()]
    assert got == _truth(sorted_ix, 7, asc=False)
    assert info["files_scanned"] < info["files_total"]


def test_sorted_topk_filter_doubles(sorted_ix):
    flt = F.col("lang") == "de"
    info = {}
    got = [(r.docid, r.dl) for r in
           sorted_topk(sorted_ix, 12, filter_expr=flt, info=info)
           .select("docid", "dl").collect()]
    assert got == _truth(sorted_ix, 12, flt=flt)


def test_sorted_topk_across_generations(spark, sorted_ix):
    out = tempfile.mkdtemp(prefix="sparksearch_sorted_g_")
    try:
        pages = pages_from_documents(spark, SF)
        build_index(pages.filter(F.col("lang") != "fr"), out,
                    n_buckets=4, partitions=8, index_sort=("dl", True))
        add_generation(spark, out,
                       pages.filter(F.col("lang") == "fr"),
                       partitions=8)
        ix = IndexReader(spark, out)
        assert os.path.exists(f"{out}/docs/gen=1/_sort_manifest.json")
        got = [(r.docid, r.dl) for r in
               sorted_topk(ix, 10).select("docid", "dl").collect()]
        assert got == _truth(ix, 10)
        # every lang present ⇒ both generations contributed to the scan
        assert ix.docs.count() > sorted_ix.docs.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_search_body_uses_sorted_prefix(spark, sorted_ix):
    """A body sorted by the index_sort field takes the early-termination
    path and returns exactly what the full-scan plan returns."""
    from sparksearch import api
    from sparksearch.exec import Executor

    ex = Executor(sorted_ix)
    body = {"query": {"term": {"lang": "de"}},
            "sort": [{"dl": "asc"}], "size": 8,
            "_source": {"includes": ["dl", "lang"]}}
    # gate engages
    q = api.from_dsl(body["query"])
    sort = api._parse_sort(body["sort"])
    assert api._sorted_scan_cond(ex, body, q, sort, False, {},
                                 False) is not None
    fast = [(r.docid, r.dl, r.score) for r in
            api.search_df(ex, body).collect()]
    slow = [(r.docid, r.dl, r.score) for r in
            api.search_df(ex, {**body, "track_scores": True}).collect()]
    assert [(d, v) for d, v, _ in fast] == [(d, v) for d, v, _ in slow]
    assert all(s == 0.0 for _, _, s in fast)
    # gate stays OFF when anything needs scores or another sort order
    assert api._sorted_scan_cond(
        ex, body, q, sort, True, {}, False) is None
    assert api._sorted_scan_cond(
        ex, body, api.from_dsl({"match": {"text": "x"}}),
        sort, False, {}, False) is None
    assert api._sorted_scan_cond(
        ex, {**body, "search_after": [1]}, q, sort, False, {},
        False) is None
    assert api._sorted_scan_cond(
        ex, body, q, api._parse_sort([{"lang": "asc"}]), False, {},
        False) is None


def test_sorted_prefix_gate_off_for_missing_policy(spark, sorted_ix):
    """A primary sort on the index_sort field with a non-default
    `missing` policy must not take the build-order file prefix."""
    from sparksearch import api
    from sparksearch.exec import Executor

    ex = Executor(sorted_ix)
    body = {"query": {"term": {"lang": "de"}}, "size": 8}
    q = api.from_dsl(body["query"])
    for missing, gated in (("_last", True), ("_first", False), (0, False)):
        spec = [{"dl": {"order": "asc", "missing": missing}}]
        cond = api._sorted_scan_cond(ex, {**body, "sort": spec}, q,
                                     api._parse_sort(spec), False, {},
                                     False)
        assert (cond is not None) == gated, missing


def test_sorted_topk_errors(spark, sorted_ix):
    from sparksearch.contract import get_engine
    ix_plain, _ = get_engine(spark, SF)
    with pytest.raises(ValueError, match="index_sort"):
        sorted_topk(ix_plain, 5)
    with pytest.raises(ValueError, match="mutually exclusive"):
        build_index(pages_from_documents(spark, SF), "/tmp/_never",
                    index_sort="dl", time_partition="day")
