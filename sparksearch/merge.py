"""Incremental index generations + log-structured segment merge.

The reference separates (a) making new writes searchable — refresh creates
new small Lucene segments (sv/index/IndexSettings.java:298, default 1 s) —
from (b) background tiered merges that compact them
(sv/index/OpenSearchTieredMergePolicy.java; defaults
sv/index/MergePolicyConfig.java:136-236, segmentsPerTier=10). The batch
analogues here:

  add_generation(spark, dir, new_pages)
      Analyze the batch with docids starting at the committed next_docid,
      write docs/gen=G + postings/gen=G (+ segments/gen=G when the index
      has packed segments), recompute global stats
      as old-stats ∪ delta (groupBy sum — no corpus rescan), then commit by
      atomically replacing meta.json (the segments_N analogue). Readers see
      either the old or the new index, never a partial one. Global df/N/
      avgdl move, which is exactly DFS_QUERY_THEN_FETCH semantics
      (sv/search/dfs/DfsPhase.java:57-104) — and block impact metadata is
      stored avgdl-independent (max_tf, min_dlq) so WAND bounds stay sound.

  merge_segments(spark, dir)
      The compaction pass: unpack every live generation's blocks back to
      (term, docid, tf, dl_q) rows (segments.decode_blocks), re-encode
      them through the same salted (term, salt)-keyed Catalyst encoder
      into one consolidated generation, commit segments_meta.json, and
      delete the old generation dirs.
      Blocks hold absolute docids, so merging never rewrites docids;
      per-term block sets from disjoint docid ranges simply interleave.

should_merge() applies the segmentsPerTier-style trigger (default 10 live
generations, MergePolicyConfig.java:203-236).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.build import (
    analyze_pages,
    read_meta,
    write_docs_postings,
    write_meta,
    write_stats,
)
from sparksearch.segments import (
    SegmentsReader,
    _load_seg_meta,
    _write_seg_meta,
    build_segments,
    decode_blocks,
    next_generation,
)

__all__ = ["add_generation", "ensure_segments", "merge_segments",
           "should_merge", "SEGMENTS_PER_TIER"]

#: merge trigger — the reference's default segmentsPerTier
SEGMENTS_PER_TIER = 10


def add_generation(spark: SparkSession, index_dir: str, new_pages: DataFrame,
                   partitions: int | None = None,
                   salt_target: int = 65536, n_chunks: int = 1,
                   batch_id: int | None = None) -> dict:
    """Index a new batch of pages as the next generation. Returns new meta.

    New docids start at the committed `next_docid`, so they never reuse a
    docid an expunge kept. On an index with packed segments
    (segments_meta.json) the blocks are extended after the commit; an
    index without them stays without them.

    `batch_id` (streaming) is recorded inside meta.json's indexed_batches in
    the SAME atomic commit as the generation itself — a crash can never
    leave a committed generation whose batch id is unrecorded (which would
    replay + duplicate the batch on restart)."""
    meta = read_meta(index_dir)
    gen = next_generation(index_dir)
    base = int(meta["next_docid"])
    analyzer = meta["analyzer"]
    if "analyzer_def" in meta:
        from sparksearch.analysis_custom import ensure_registered
        ensure_registered(analyzer, meta["analyzer_def"])
    n_buckets = int(meta["n_buckets"])

    tok, ranged, n_new = analyze_pages(new_pages, analyzer, partitions,
                                       docid_base=base)

    # docs / postings / merged-stats are independent jobs over the same
    # persisted batch — concurrent threads overlap their fixed latencies
    # (see build.run_jobs). Stats: old ∪ delta, summed — never rescans
    # older generations; the delta aggregates straight off the persisted
    # analyzed batch rather than re-reading the postings parquet.
    from sparksearch.build import run_jobs
    stats_path = f"stats_g{gen}"
    stats_result: dict = {}

    def _stats_job():
        delta = (tok.select("dl_q", F.explode("entries").alias("e"))
                 .groupBy(F.col("e.term").alias("term"))
                 .agg(F.count("*").cast("long").alias("df"),
                      F.sum("e.tf").cast("long").alias("cf"),
                      F.max("e.tf").cast("int").alias("max_tf"),
                      F.min("dl_q").cast("long").alias("min_dlq")))
        old = spark.read.parquet(f"{index_dir}/{meta['stats_path']}")
        merged = (old.unionByName(delta)
                  .groupBy("term")
                  .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                       F.max("max_tf").alias("max_tf"),
                       F.min("min_dlq").alias("min_dlq")))
        stats_result["v"] = write_stats(
            spark, index_dir, merged, stats_path, partitions)

    _tp = meta.get("time_partition")
    # index sorting is an index-level layout setting: every generation
    # gets its own sorted files + sort manifest (Lucene sorts each new
    # segment the same way)
    _isort = meta.get("index_sort")
    _isort = (_isort["field"], _isort["asc"]) if _isort else None
    run_jobs([
        lambda: write_docs_postings(tok, index_dir, gen, n_buckets,
                                    partitions, skip_postings=True,
                                    time_partition=_tp, index_sort=_isort),
        lambda: write_docs_postings(tok, index_dir, gen, n_buckets,
                                    partitions, skip_docs=True,
                                    time_partition=_tp, index_sort=_isort),
        _stats_job,
    ])
    n_terms, max_df, total_tf = stats_result["v"]

    tok.unpersist()
    ranged.unpersist()

    n_docs = int(meta["n_docs"]) + n_new
    meta.update({
        "n_docs": int(n_docs),
        "next_docid": base + n_new,
        "total_tf": int(total_tf),
        "avgdl": float(total_tf / n_docs) if n_docs else 1.0,
        "n_terms": int(n_terms),
        "generations": meta["generations"] + [gen],
        "stats_path": stats_path,
    })
    meta["metrics"]["max_df"] = int(max_df)
    if batch_id is not None:
        meta.setdefault("indexed_batches", {})[str(batch_id)] = gen
    write_meta(index_dir, meta)  # commit point

    if os.path.exists(f"{index_dir}/segments_meta.json"):
        # repair-then-extend: builds segments for THIS generation and for
        # any earlier committed generation whose segment build crashed
        # before registering (readers fall back to row postings until then
        # — Executor checks segments coverage before taking the WAND path)
        ensure_segments(spark, index_dir, salt_target=salt_target,
                        n_chunks=n_chunks, partitions=partitions)
    return meta


def ensure_segments(spark: SparkSession, index_dir: str,
                    partitions: int | None = None,
                    salt_target: int = 65536, n_chunks: int = 1) -> list[int]:
    """Build packed segments for every committed meta generation not yet
    covered by segments_meta.json (the crash window between the meta.json
    commit and the segment build/registration). Returns the repaired gens."""
    meta = read_meta(index_dir)
    covered = set(_load_seg_meta(index_dir)["covers"])
    missing = [g for g in meta["generations"] if g not in covered]
    for g in missing:
        build_segments(spark, index_dir, gen=g, salt_target=salt_target,
                       n_chunks=n_chunks, partitions=partitions)
    return missing


def should_merge(index_dir: str,
                 segments_per_tier: int = SEGMENTS_PER_TIER) -> bool:
    return len(_load_seg_meta(index_dir)["generations"]) >= segments_per_tier


def merge_segments(spark: SparkSession, index_dir: str,
                   partitions: int | None = None,
                   salt_target: int = 65536, n_chunks: int = 1) -> dict:
    """Compact all live segment generations into one (log-structured merge).

    Exact: the merged generation decodes to the identical posting set, and
    every query is rank-identical before vs after (scores depend only on
    global stats, which merging does not touch).
    """
    t0 = time.time()
    n_buckets = read_meta(index_dir)["n_buckets"]
    seg_meta = _load_seg_meta(index_dir)
    old_gens = list(seg_meta["generations"])
    if len(old_gens) <= 1:
        return seg_meta
    new_gen = next_generation(index_dir)

    reader = SegmentsReader(spark, index_dir)
    covers = list(reader.covers)  # meta gens represented — unchanged by merge
    decoded = (decode_blocks(reader.blocks)
               .withColumn("bucket",
                           F.pmod(F.xxhash64("term"), F.lit(n_buckets))))
    gen_meta = build_segments(spark, index_dir, gen=new_gen,
                              salt_target=salt_target, n_chunks=n_chunks,
                              partitions=partitions, postings_df=decoded,
                              covers=covers)

    # commit: merged generation replaces the old ones, then GC their dirs
    seg_meta = _load_seg_meta(index_dir)
    seg_meta["generations"] = [new_gen]
    seg_meta["covers"] = sorted(covers)
    seg_meta["merged_from"] = old_gens
    seg_meta["gens"] = {str(new_gen): gen_meta}
    seg_meta["merge_sec"] = round(time.time() - t0, 3)
    _write_seg_meta(index_dir, seg_meta)
    for g in old_gens:
        shutil.rmtree(f"{index_dir}/segments/gen={g}", ignore_errors=True)
    return seg_meta
