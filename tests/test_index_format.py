"""One on-disk index format: build.read_meta refuses any other version at
every entry point, and the v5 meta's next_docid keeps docids unique
across an expunge followed by an add."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA


def _listing(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, files in os.walk(root) for f in files)


def test_older_format_refused_at_every_entry_point(spark, tmp_path):
    """A built index whose meta.json says version 4: every reader and
    writer raises the same ValueError naming build_index, and leaves the
    index's files and meta.json bytes as they were."""
    from sparksearch.build import INDEX_VERSION, build_index
    from sparksearch.corpus import synthesize_pages
    from sparksearch.deletes import delete_by_query, expunge_deletes
    from sparksearch.index import IndexReader, pit_reader
    from sparksearch.merge import (add_generation, ensure_segments,
                                   merge_segments)
    from sparksearch.queries import Match
    from sparksearch.segments import build_segments, next_generation

    ix = str(tmp_path / "v4")
    pages = synthesize_pages(spark, 120, seed=4, vocab=40, min_len=5,
                             max_len=30, partitions=2)
    build_index(pages, ix, n_buckets=2, partitions=2)
    build_segments(spark, ix, salt_target=64, n_chunks=1, partitions=2)
    with open(f"{ix}/meta.json") as f:
        meta = json.load(f)
    assert meta["version"] == INDEX_VERSION == 5
    meta["version"] = 4
    with open(f"{ix}/meta.json", "w") as f:
        json.dump(meta, f)
    with open(f"{ix}/meta.json", "rb") as f:
        meta_bytes = f.read()
    files = _listing(ix)

    entry_points = {
        "IndexReader": lambda: IndexReader(spark, ix),
        "IndexReader(use_segments)":
            lambda: IndexReader(spark, ix, use_segments=True),
        "pit_reader": lambda: pit_reader(
            spark, {"index_dir": ix, "meta": meta, "use_segments": False}),
        "add_generation": lambda: add_generation(spark, ix, pages,
                                                 partitions=2),
        "ensure_segments": lambda: ensure_segments(spark, ix),
        "merge_segments": lambda: merge_segments(spark, ix),
        "build_segments": lambda: build_segments(spark, ix, gen=0),
        "next_generation": lambda: next_generation(ix),
        "delete_by_query": lambda: delete_by_query(spark, ix,
                                                   Match("text", "w1")),
        "expunge_deletes": lambda: expunge_deletes(spark, ix),
    }
    messages = {}
    for name, call in entry_points.items():
        with pytest.raises(ValueError) as err:
            call()
        messages[name] = str(err.value)
    assert len(set(messages.values())) == 1, messages
    msg = messages["IndexReader"]
    assert "version 4" in msg and "build_index" in msg, msg
    assert _listing(ix) == files
    with open(f"{ix}/meta.json", "rb") as f:
        assert f.read() == meta_bytes


def _url_scores(ex, q, k, mode="plan") -> dict[str, float]:
    return {r["url"]: r["score"] for r in
            ex.search(q, k=k, fetch=True, mode=mode).collect()}


def test_add_after_expunge_numbers_past_every_kept_docid(spark, tmp_path):
    """build → delete the `de` pages → expunge (docids kept, fewer live
    docs) → add the `fr` pages under new urls: the new docs take docids
    no kept doc holds, every {url: score} equals a fresh build of the
    same live pages, and WAND equals the plan path."""
    from sparksearch.build import build_index, read_meta
    from sparksearch.corpus import pages_from_documents
    from sparksearch.deletes import delete_by_query, expunge_deletes
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.merge import add_generation
    from sparksearch.queries import Match, Term
    from sparksearch.segments import build_segments

    pages = pages_from_documents(spark, f"{TESTDATA}/sf0.001")
    readded = (pages.filter(F.col("lang") == "fr")
               .withColumn("url", F.concat(F.lit("re-"), F.col("url"))))
    ix = str(tmp_path / "incr")
    build_index(pages, ix, n_buckets=4, partitions=4)
    build_segments(spark, ix, salt_target=64, n_chunks=1, partitions=4)
    assert delete_by_query(spark, ix, Term("lang", "de")) > 0
    expunge_deletes(spark, ix, partitions=4, salt_target=64)
    kept = read_meta(ix)
    assert kept["next_docid"] > kept["n_docs"]
    add_generation(spark, ix, readded, partitions=4, salt_target=64)

    incr = IndexReader(spark, ix, use_segments=True)
    assert incr.segments_cover_all()
    docids = [r["docid"] for r in incr.docs.select("docid").collect()]
    assert len(docids) == len(set(docids)) == incr.n_docs
    assert read_meta(ix)["next_docid"] == max(docids) + 1

    fresh_dir = str(tmp_path / "fresh")
    build_index(pages.filter(F.col("lang") != "de").unionByName(readded),
                fresh_dir, n_buckets=4, partitions=4)
    fresh = Executor(IndexReader(spark, fresh_dir))
    ex = Executor(incr)
    for text in ("join", "hash join", "spark table scan"):
        q = Match("text", text)
        want = _url_scores(fresh, q, 1000)
        assert len(want) > 10
        assert _url_scores(ex, q, 1000) == want, text
        assert _url_scores(ex, q, 10, "wand") \
            == _url_scores(ex, q, 10, "plan"), text


def test_msearch_rows_equal_search_rows(spark, index_sf0001):
    """msearch ranks by the exact score: each query's rows equal what
    search returns for it alone, scores included."""
    from sparksearch.exec import Executor
    from sparksearch.queries import Match

    ex = Executor(index_sf0001)
    queries = {
        "q1": Match("text", "spark"),
        "q2": Match("text", "join"),
        "q3": Match("text", "hash join"),
        "q4": Match("text", "table scan", operator="and"),
        "q5": Match("text", "fast slow scan", minimum_should_match=2),
        "q6": Match("text", "window order sort"),
        "q7": Match("text", "the a"),
        "q8": Match("text", "big small data customer"),
        "q9": Match("text", "dup vector"),
    }
    got: dict[str, list] = {qid: [] for qid in queries}
    for r in ex.msearch(queries, k=10, fetch=True).collect():
        got[r["query_id"]].append((r["docid"], r["url"], r["score"]))
    for qid, q in queries.items():
        want = [(r["docid"], r["url"], r["score"]) for r in
                ex.search(q, k=10, fetch=True, mode="plan").collect()]
        assert len(want) == 10
        assert got[qid] == want, qid
