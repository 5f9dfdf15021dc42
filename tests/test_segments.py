"""Packed segments: encode/decode round trip, position-free blocks,
block-max WAND exactness, salting, chunk-level resume."""

import json
import os
import random
import shutil

import pytest

#: physical-plan nodes that run a Python worker
_PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython")


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------------------------
# block encode → decode_blocks round trip
# --------------------------------------------------------------------------


def _random_postings(rng, n_docs):
    """Seeded posting lists sized around the 128-doc block boundary, plus
    two lists long enough to be split into several salts."""
    rows = []
    for i, df in enumerate([1, 5, 127, 128, 129, 300, 700]):
        for d in sorted(rng.sample(range(n_docs), df)):
            tf = rng.randint(1, 4)
            rows.append((f"t{i}", d, tf, sorted(rng.sample(range(600), tf)),
                         rng.choice([3, 8, 40, 96, 200, 1280])))
    return rows


def _build_blocks(spark, ix, rows, n_docs, salt_target):
    """Write `rows` as an index's row postings + stats and encode them
    with build_segments; returns (segments meta, postings DataFrame)."""
    from pyspark.sql import functions as F
    from sparksearch.build import INDEX_VERSION
    from sparksearch.segments import build_segments

    post = (spark.createDataFrame(
        rows, "term string, docid bigint, tf int, positions array<int>, "
              "dl_q bigint")
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(4))))
    with open(f"{ix}/meta.json", "w") as f:
        json.dump({"version": INDEX_VERSION, "n_docs": n_docs,
                   "next_docid": n_docs, "stats_path": "stats"}, f)
    post.groupBy("term").agg(F.count("*").alias("df")) \
        .write.parquet(f"{ix}/stats")
    meta = build_segments(spark, ix, salt_target=salt_target, n_chunks=2,
                          partitions=3, postings_df=post)
    return meta, post


def _column_encodings(ix, column):
    """Parquet encodings of `column`'s leaf in every written block file."""
    import pyarrow.parquet as pq
    found = set()
    for d, _, files in os.walk(f"{ix}/segments"):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            for g in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(g).column(c)
                    if col.path_in_schema.split(".")[0] == column:
                        found.update(col.encodings)
    return found


@pytest.fixture(scope="module")
def random_blocks(spark, tmp_path_factory):
    """Seeded random posting lists encoded into segment blocks:
    (index dir, input rows, n_docs, meta, postings DataFrame)."""
    n_docs = 1000
    rows = _random_postings(random.Random(11), n_docs)
    ix = str(tmp_path_factory.mktemp("randblocks"))
    meta, post = _build_blocks(spark, ix, rows, n_docs, salt_target=200)
    return ix, rows, n_docs, meta, post


def test_block_encode_decode_roundtrip(spark, random_blocks):
    """Random posting lists through build_segments' Catalyst encode and
    the Parquet write come back as position-free blocks with consistent
    metadata, and the encode plan has one shuffle and no Python stage."""
    from sparksearch.segments import (BLOCK_SIZE, SegmentsReader,
                                      encode_blocks)

    ix, rows, n_docs, meta, post = random_blocks
    assert meta["postings"] == len(rows) and meta["max_nsalts"] == 4

    blocks = SegmentsReader(spark, ix).blocks
    assert "positions" not in blocks.columns
    runs: dict = {}
    for r in blocks.collect():
        runs.setdefault((r.term, r.salt), []).append(r)
    for run in runs.values():
        run.sort(key=lambda r: r.block_id)
        assert [r.block_id for r in run] == list(range(len(run)))
        assert all(r.n == BLOCK_SIZE for r in run[:-1])
        for r in run:
            assert r.n == len(r.docids) == len(r.tfs) == len(r.dlqs) \
                <= BLOCK_SIZE
            assert r.max_tf == max(r.tfs) and r.min_dlq == min(r.dlqs)
    # lists of 129 and 300 postings cross a block boundary; the 700-list
    # is split over 4 salts
    assert len(runs[("t4", 0)]) == 2
    assert len({s for t, s in runs if t == "t6"}) == 4

    plan = _plan_str(encode_blocks(post, n_docs, {"t6": 4}, 3))
    assert plan.count("Exchange") == 1, plan
    for node in _PYTHON_NODES:
        assert node not in plan, plan


def test_docid_delta_roundtrip(spark, random_blocks):
    """Docids are stored absolute and ascending in each block, with
    first/last docid matching the array, delta-coded by Parquet
    (DELTA_BINARY_PACKED); decode_blocks returns the input
    (term, docid, tf, dl_q) rows and no positions."""
    from sparksearch.segments import SegmentsReader, decode_blocks

    ix, rows, _, _, _ = random_blocks
    blocks = SegmentsReader(spark, ix).blocks
    for r in blocks.collect():
        assert r.docids == sorted(set(r.docids))
        assert (r.first_docid, r.last_docid) == (r.docids[0],
                                                 r.docids[-1])
    assert "DELTA_BINARY_PACKED" in _column_encodings(ix, "docids")
    got = decode_blocks(blocks)
    assert got.columns == ["term", "docid", "tf", "dl_q"]
    assert sorted(tuple(r) for r in got.collect()) == \
        sorted((t, d, tf, q) for t, d, tf, _, q in rows)


def test_positions_roundtrip(spark, random_blocks, seg_index):
    """Blocks carry no positions: the written block files have no
    `positions` column although the input postings do. Positional
    queries on a use_segments reader read row postings and equal the
    plain reader."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import (MatchPhrase, SpanFirst, SpanNear,
                                     SpanNot, SpanOr)
    from sparksearch.segments import SegmentsReader

    ix, _, _, _, post = random_blocks
    assert "positions" in post.columns
    assert _column_encodings(ix, "positions") == set()
    assert "positions" not in SegmentsReader(spark, ix).blocks.columns

    row_ex = Executor(IndexReader(spark, seg_index))
    seg_ex = Executor(IndexReader(spark, seg_index, use_segments=True))
    for q in (MatchPhrase("text", "hash join"),
              MatchPhrase("text", "fast scan", slop=1),
              SpanNear("text", ("hash", "join"), slop=1),
              SpanFirst("text", ("join",), end=5),
              SpanOr("text", ("hash", "table")),
              SpanNot("text", "join", "hash", pre=1, post=1)):
        want = _topk(row_ex, q, 10, "plan")
        assert want, q
        for mode in ("plan", "auto"):
            assert _topk(seg_ex, q, 10, mode) == want, (q, mode)


def test_varint_roundtrip(spark, tmp_path):
    """Integer payloads at the edges of their column types -- docids over
    0 .. 2**62 - 1, the largest dl_q -- keep their exact values through
    the block encode, the Parquet write and decode_blocks; the input's
    positions are not stored."""
    from sparksearch.segments import SegmentsReader, decode_blocks

    rng = random.Random(7)
    n_docs = 2 ** 62
    rows = []
    for i, df in enumerate([1, 2, 130, 260]):
        docids = set(rng.sample(range(n_docs), df - 1)) | {
            (0, n_docs - 1)[i % 2]}
        while len(docids) < df:
            docids.add(rng.randrange(n_docs))
        for d in sorted(docids):
            tf = rng.randint(1, 3)
            pos = sorted(rng.sample(range(2 ** 31 - 1), tf))
            rows.append((f"v{i}", d, tf, pos,
                         rng.choice([0, 1, 255, 2 ** 31 - 1])))
    ix = str(tmp_path)
    meta, _ = _build_blocks(spark, ix, rows, n_docs, salt_target=10 ** 6)
    assert meta["postings"] == len(rows)
    blocks = SegmentsReader(spark, ix).blocks
    assert "positions" not in blocks.columns
    got = decode_blocks(blocks).select("term", "docid", "tf", "dl_q")
    assert sorted(tuple(r) for r in got.collect()) == \
        sorted((t, d, tf, q) for t, d, tf, _, q in rows)


# --------------------------------------------------------------------------
# Spark: segment path == row-postings path, WAND == unpruned
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def seg_index(spark, tmp_path_factory):
    from sparksearch.build import build_index
    from sparksearch.corpus import pages_from_documents
    from sparksearch.segments import build_segments

    out = str(tmp_path_factory.mktemp("segix"))
    shutil.rmtree(out, ignore_errors=True)
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    build_index(pages, out, n_buckets=4, partitions=4)
    # tiny salt_target forces real multi-salt groups on head terms
    meta = build_segments(spark, out, salt_target=64, n_chunks=3,
                          partitions=4)
    assert meta["salted_terms"] > 0 and meta["max_nsalts"] > 1
    return out


def _topk(ex, q, k, mode):
    rows = ex.search(q, k=k, fetch=False, mode=mode).collect()
    return [(r["docid"], r["score"]) for r in rows]


def _queries():
    from sparksearch.queries import Bool, Match, MatchPhrase
    return [
        Match("text", "spark"),
        Match("text", "hash join table"),
        Match("text", "hash join table", operator="and"),
        Match("text", "scan slow fast", minimum_should_match=2),
        Match("text", "the join"),
        Match("text", "join join fast"),
        # duplicate term + AND: msm = len(terms) counts multiplicity, so the
        # WAND clause count must be weighted (regression for the
        # countDistinct bug — a doc with both terms must still match)
        Match("text", "the join the table", operator="and"),
        Match("text", "join join", operator="and"),
        Match("text", "zzz-notfound"),
        MatchPhrase("text", "hash join"),
        Bool(must=[Match("text", "join")],
             must_not=[Match("text", "error")]),
    ]


def test_segment_decode_rank_identical(spark, seg_index):
    """A use_segments reader plans every query exactly as a plain
    reader does."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    row_ex = Executor(IndexReader(spark, seg_index, use_segments=False))
    seg_ex = Executor(IndexReader(spark, seg_index, use_segments=True))
    for q in _queries():
        assert _topk(row_ex, q, 10, "plan") == _topk(seg_ex, q, 10, "plan"), q


def test_wand_exact_topk(spark, seg_index):
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match

    row_ex = Executor(IndexReader(spark, seg_index, use_segments=False))
    seg_ex = Executor(IndexReader(spark, seg_index, use_segments=True))
    for q in _queries():
        if not isinstance(q, Match):
            continue
        for k in (1, 5, 37):
            assert _topk(row_ex, q, k, "plan") == _topk(seg_ex, q, k, "wand"), \
                (q, k)


def test_wand_prunes_blocks(spark, seg_index):
    """The phase-B filter must actually drop blocks for a selective query
    over a corpus that contains head terms."""
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match
    from sparksearch.wand import wand_topk

    ix = IndexReader(spark, seg_index, use_segments=True)
    total = ix.segments.blocks.count()
    assert total > 0
    # running the query must succeed and return k rows
    rows = wand_topk(ix, Match("text", "spark"), k=5).collect()
    assert len(rows) == 5


def test_segment_resume_chunk_level(spark, seg_index, tmp_path):
    """Kill-and-resume: drop one chunk, rebuild with resume=True, and the
    re-built index must decode to the identical posting set."""
    from sparksearch.segments import (SegmentsReader, build_segments,
                                      decode_blocks)

    def decoded():
        return {tuple(r) for r in decode_blocks(
            SegmentsReader(spark, seg_index).blocks).collect()}

    before = decoded()
    gen_dir = f"{seg_index}/segments/gen=0"
    shutil.rmtree(f"{gen_dir}/chunk=1")
    os.remove(f"{gen_dir}/_manifest/chunk-1.json")
    meta = build_segments(spark, seg_index, salt_target=64, n_chunks=3,
                          partitions=4, resume=True)
    assert len(meta["chunks"]) == 3
    assert decoded() == before


def test_manifest_metrics(seg_index):
    with open(f"{seg_index}/segments_meta.json") as f:
        meta = json.load(f)
    assert meta["generations"] == [0]
    g0 = meta["gens"]["0"]
    assert g0["postings"] > 0
    assert g0["payload_bytes"] > 0
    assert len(g0["chunks"]) == 3
    for ch in g0["chunks"]:
        assert ch["blocks"] > 0 and ch["elapsed_sec"] >= 0


def test_fuzzy_match_skips_wand(spark, seg_index):
    """A Match with fuzziness must NOT take the WAND path (WAND scores
    exact terms only and would silently drop the dictionary expansion):
    mode='auto' over a segment-backed index must equal the plan path."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match

    ex = Executor(IndexReader(spark, seg_index, use_segments=True))
    q = Match("text", "joins tabel", fuzziness=1)
    assert _topk(ex, q, 10, "auto") == _topk(ex, q, 10, "plan")
    # sanity: fuzzy actually expands (exact 'tabel' likely absent)
    assert len(_topk(ex, q, 10, "auto")) > 0


def test_fused_bool_all_zero_term_clauses(spark, seg_index):
    """Every fusable clause analyzing to zero terms (punctuation-only
    match text) must not crash the fused bool planner."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Bool, Match

    ex = Executor(IndexReader(spark, seg_index, use_segments=False))
    q = Bool(must=[Match("text", "...")], should=[Match("text", "!!")])
    assert ex.search(q, k=5, fetch=False).collect() == []
