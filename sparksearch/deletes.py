"""Soft deletes: _delete_by_query / _update_by_query / expunge merge.

The reference routes _delete_by_query and _update_by_query through the
reindex module (modules/reindex/src/main/java/org/opensearch/index/reindex/
TransportDeleteByQueryAction.java, TransportUpdateByQueryAction.java): the
query selects docs, each gets a delete/index op, and Lucene records deletes
as liveDocs bitmasks that searches skip while merges eventually reclaim the
space (`_forcemerge?only_expunge_deletes=true`). Until a merge, deleted
docs still count in corpus statistics — docFreq and avgdl are
segment-commit-time values — and that is exactly the semantics here:

  delete_by_query(spark, dir, q)
      Plan `q` unscored over the live index, write the matching docids as a
      tombstone parquet under deletes/, and commit the tombstone into
      meta.json atomically (readers see old or new, never partial).
      IndexReader applies liveDocs as a broadcast anti-join on every
      docs/postings read; global stats are untouched (Lucene-before-merge).

  update_by_query(spark, dir, pages, q, transform)
      Reference semantics = delete + reindex with new doc versions: the
      matching urls are tombstoned and the transformed source pages are
      re-indexed as a NEW generation (new docids, updated global stats via
      merge.add_generation — the same path streaming ingest uses).

  expunge_deletes(spark, dir)
      The merge that reclaims deletes: rewrite docs + postings dropping
      tombstoned docids into one consolidated generation (docids preserved
      — blocks/self-contained-generation invariants hold), recompute the
      stats table and n_docs/avgdl from the survivors, rebuild packed
      segments, THEN commit meta (segments before the commit point —
      readers in the window fall back to row postings, never lose docs).
      After expunge, scores equal a fresh build over the surviving corpus.
"""

from __future__ import annotations

import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.build import read_meta, write_meta, write_stats
from sparksearch.index import IndexReader
from sparksearch.segments import next_generation

__all__ = ["delete_by_query", "update_by_query", "expunge_deletes"]


def delete_by_query(spark: SparkSession, index_dir: str, q,
                    fixed_now=None) -> int:
    """Tombstone every doc matching `q`; returns the number deleted.

    The matching docids are written with one job (count observed on the
    write itself), then the tombstone is committed into meta.json — the
    same atomic-replace commit point every other writer uses."""
    from pyspark.sql import Observation

    from sparksearch.exec import Executor

    ix = IndexReader(spark, index_dir)
    ex = Executor(ix)
    if fixed_now is not None:
        ex.fixed_now = fixed_now
    matched = ex._plan(q, scored=False).select("docid")

    seq = len(ix.delete_files)
    rel = f"deletes/del-{seq}"
    obs = Observation()
    (matched.observe(obs, F.count(F.lit(1)).alias("n"))
     .coalesce(1)
     .write.mode("overwrite").parquet(f"{index_dir}/{rel}"))
    n = int(obs.get["n"])
    if n == 0:
        shutil.rmtree(f"{index_dir}/{rel}", ignore_errors=True)
        return 0

    meta = read_meta(index_dir)
    meta["deletes"] = meta.get("deletes", []) + [rel]
    meta["n_deleted"] = int(meta.get("n_deleted", 0)) + n
    write_meta(index_dir, meta)
    return n


def update_by_query(spark: SparkSession, index_dir: str, pages: DataFrame,
                    q, transform) -> int:
    """Delete the docs matching `q` and re-index their TRANSFORMED source
    pages as a new generation; returns the number updated.

    `pages` is the index's source frame (url, warc_ts, text, lang);
    `transform` maps the matching pages DataFrame to its updated form
    (must keep the url key)."""
    from sparksearch.exec import Executor
    from sparksearch.merge import add_generation

    ix = IndexReader(spark, index_dir)
    ex = Executor(ix)
    matched = ex._plan(q, scored=False).select("docid")
    urls = (ix.docs.select("docid", "url")
            .join(F.broadcast(matched), "docid").select("url"))
    updated = transform(pages.join(urls, "url", "left_semi"))

    n = delete_by_query(spark, index_dir, q)
    if n:
        add_generation(spark, index_dir, updated)
    return n


def expunge_deletes(spark: SparkSession, index_dir: str,
                    partitions: int | None = None,
                    salt_target: int = 65536, n_chunks: int = 1) -> dict:
    """Merge away the tombstones: one consolidated generation holding only
    live docs, with stats/n_docs/avgdl recomputed from the survivors.

    Refuses (ValueError, index unchanged) when the tombstones cover every
    doc: the merged generation would hold no doc and no term statistics.
    Tombstones only ever name live docs, so the committed counts tell
    without a scan."""
    t0 = time.time()
    ix = IndexReader(spark, index_dir)
    if not ix.delete_files:
        return ix.meta
    if ix.n_deleted >= ix.n_docs:
        raise ValueError(
            f"expunge_deletes: all {ix.n_docs} docs of {index_dir} are "
            "deleted, so the merged generation would be empty; the index "
            "is left unchanged (rebuild it, or add documents first)")
    new_gen = next_generation(index_dir)
    n_buckets = ix.n_buckets

    from pyspark.sql import Observation

    # live docs (docid order preserved — generations stay docid-ranged)
    obs = Observation()
    # observe sits ABOVE the range-repartition: repartitionByRange runs a
    # sampling pass over its child, which would double-fire an observation
    # placed below it
    (ix.docs  # property applies the liveDocs anti-join
     .repartitionByRange(max(1, (partitions or 8) // 2), "docid")
     .sortWithinPartitions("docid")
     .observe(obs, F.count(F.lit(1)).alias("n"),
              F.max("docid").alias("max_docid"))
     .write.mode("overwrite").parquet(f"{index_dir}/docs/gen={new_gen}"))
    n_docs = int(obs.get["n"])
    # survivors keep their docids, so the next batch numbers from past the
    # largest one, not from the (smaller) live count
    next_docid = int(obs.get["max_docid"]) + 1

    # live postings, re-bucketed exactly as the builder writes them
    live_post = ix.postings
    (live_post
     .repartition(partitions or n_buckets, "bucket", "term")
     .sortWithinPartitions("term", "docid")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(f"{index_dir}/postings/gen={new_gen}"))

    # recomputed stats: df/cf/impact pair over survivors only
    post_new = spark.read.option(
        "basePath", f"{index_dir}/postings").parquet(
        f"{index_dir}/postings/gen={new_gen}")
    stats_df = (post_new.groupBy("term")
                .agg(F.count("*").cast("long").alias("df"),
                     F.sum("tf").cast("long").alias("cf"),
                     F.max("tf").cast("int").alias("max_tf"),
                     F.min("dl_q").cast("long").alias("min_dlq")))
    stats_path = f"stats_g{new_gen}"
    n_terms, max_df, total_tf = write_stats(
        spark, index_dir, stats_df, stats_path, partitions)

    # packed segments for the merged generation BEFORE the meta commit
    # (ADVICE r1: a reader in the window must never see meta generations
    # the segments lack — build first, commit after)
    had_segments = ix.segments_cover_all()
    old_seg_gens: list[int] = []
    if had_segments:
        from sparksearch.segments import build_segments, _load_seg_meta, \
            _write_seg_meta
        gen_meta = build_segments(
            spark, index_dir, gen=new_gen, salt_target=salt_target,
            n_chunks=n_chunks, partitions=partitions,
            postings_df=post_new.withColumn(
                "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))),
            covers=[new_gen])
        seg_meta = _load_seg_meta(index_dir)
        old_seg_gens = [g for g in seg_meta["generations"] if g != new_gen]
        seg_meta["generations"] = [new_gen]
        seg_meta["covers"] = [new_gen]
        seg_meta["expunged_from"] = old_seg_gens
        seg_meta["gens"] = {str(new_gen): gen_meta}
        _write_seg_meta(index_dir, seg_meta)

    old_gens = list(ix.generations)
    old_stats = ix.stats_path
    meta = dict(ix.meta)
    meta.update({
        "n_docs": n_docs,
        "next_docid": next_docid,
        "avgdl": (total_tf / n_docs) if n_docs else 1.0,
        "n_terms": int(n_terms),
        "max_df": int(max_df),
        "total_tf": int(total_tf),
        "generations": [new_gen],
        "stats_path": stats_path,
        "deletes": [],
        "n_deleted": 0,
        "expunged": {"from_gens": old_gens,
                     "reclaimed": ix.n_deleted,
                     "sec": round(time.time() - t0, 3)},
    })
    write_meta(index_dir, meta)  # commit point

    for g in old_gens:
        shutil.rmtree(f"{index_dir}/docs/gen={g}", ignore_errors=True)
        shutil.rmtree(f"{index_dir}/postings/gen={g}", ignore_errors=True)
    for g in old_seg_gens:
        shutil.rmtree(f"{index_dir}/segments/gen={g}", ignore_errors=True)
    shutil.rmtree(f"{index_dir}/deletes", ignore_errors=True)
    if old_stats != stats_path:
        shutil.rmtree(f"{index_dir}/{old_stats}", ignore_errors=True)
    return meta
