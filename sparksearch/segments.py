"""Packed posting segments: delta+varint blocks with block-max metadata.

The Spark analogue of Lucene's segment files (reference wiring:
/root/reference/server/src/main/java/org/opensearch/index/codec/CodecService.java:37-69
selects Lucene90PostingsFormat [Lucene 9.4, public]: 128-doc blocks,
delta/varint compression, per-block impacts for block-max WAND;
/root/reference/server/src/main/java/org/opensearch/index/engine/InternalEngine.java:844-1116
is the write path). Layout under <index_dir>/segments/:

  gen=G/chunk=J/bucket=B/part-*.parquet   one row per posting BLOCK:
      term, salt, block_id, n, first_docid, last_docid,
      docids BINARY (first absolute + gap varints),
      tfs BINARY (varints), norms BINARY (1 byte/doc, SmallFloat byte4),
      positions BINARY (per-doc delta varints),
      max_tf INT, min_dlq BIGINT (the block impact pair — like Lucene's
      (freq, norm) impacts, stored avgdl-independent so the bound stays
      sound when later generations shift global avgdl/N)
  gen=G/_manifest/chunk-J.json            per-chunk lineage + metrics
  segments_meta.json                      generations, params

Scale design:
  - the encode shuffle is keyed by (term, salt): head terms (Zipf — default
    standard analyzer keeps stopwords!) are range-salted by docid
    (salt = docid * S / n_docs, S = ceil(df / salt_target)) so no single
    task ever materializes more than ~salt_target postings; dense docids
    make the ranges perfectly balanced, and range (not hash) salting keeps
    each salted run contiguous so blocks stay globally docid-ordered.
  - chunked writes (term-hash chunks, each with its own _SUCCESS +
    manifest) give mid-build resume at sub-index granularity — the batch
    analogue of the reference's per-shard translog checkpoints
    (sv/index/seqno/LocalCheckpointTracker.java:47-143).
  - encode/decode are NumPy-vectorized inside applyInPandas/mapInPandas
    (Arrow batches; no per-row Python).
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparksearch.codec import (
    BLOCK_SIZE,
    delta_decode_docids,
    decode_positions,
    varint_decode,
    varint_encode_with_lengths,
)
from sparksearch.norms import DECODE_LUT, int_to_byte4_np

__all__ = ["build_segments", "SegmentsReader", "decoded_postings"]

_BLOCK_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("salt", T.IntegerType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("first_docid", T.LongType(), False),
    T.StructField("last_docid", T.LongType(), False),
    T.StructField("docids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("norms", T.BinaryType(), False),
    T.StructField("positions", T.BinaryType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("min_dlq", T.LongType(), False),
])


def _encode_group():
    """applyInPandas encoder for one (bucket, term, salt) posting group.

    Fully vectorized: ONE varint pass per payload over the whole group with
    per-value byte lengths, then per-block byte-range slicing — no
    per-block numpy calls (a group of 64k postings is ~10 numpy ops +
    one slice comprehension over its ~500 blocks)."""

    def enc(key, pdf):
        bucket, term, salt = int(key[0]), key[1], int(key[2])
        order = np.argsort(pdf["docid"].values, kind="stable")
        docids = pdf["docid"].values[order].astype(np.int64)
        tfs = pdf["tf"].values[order].astype(np.int64)
        dl_q = pdf["dl_q"].values[order].astype(np.int64)
        poss = pdf["positions"].values[order]
        n = len(docids)
        starts = np.arange(0, n, BLOCK_SIZE)
        ends = np.minimum(starts + BLOCK_SIZE, n)
        nb = len(starts)

        norms_all = int_to_byte4_np(dl_q).astype(np.uint8).tobytes()

        # docid gaps with the first value of each block absolute
        dd = np.empty(n, np.int64)
        dd[0] = docids[0]
        dd[1:] = np.diff(docids)
        dd[starts] = docids[starts]
        dbytes, dlen = varint_encode_with_lengths(dd)
        doff = np.zeros(n + 1, np.int64)
        np.cumsum(dlen, out=doff[1:])

        tbytes, tlen = varint_encode_with_lengths(tfs)
        toff = np.zeros(n + 1, np.int64)
        np.cumsum(tlen, out=toff[1:])

        # positions: flat concat, per-doc delta resets, one varint pass
        flat = (np.concatenate([np.asarray(p, dtype=np.int64) for p in poss])
                if n else np.zeros(0, np.int64))
        csum_tf = np.cumsum(tfs) if n else np.zeros(0, np.int64)
        doc_starts = np.zeros(n, np.int64)
        doc_starts[1:] = csum_tf[:-1]
        if len(flat):
            pdlt = np.empty(len(flat), np.int64)
            pdlt[0] = flat[0]
            pdlt[1:] = np.diff(flat)
            pdlt[doc_starts] = flat[doc_starts]
            pbytes, plen = varint_encode_with_lengths(pdlt)
            poffv = np.zeros(len(flat) + 1, np.int64)
            np.cumsum(plen, out=poffv[1:])
        else:
            pbytes, poffv = b"", np.zeros(1, np.int64)
        blk_pos_lo = poffv[doc_starts[starts]] if n else poffv[:0]
        blk_pos_hi = poffv[csum_tf[ends - 1]] if n else poffv[:0]

        max_tf = np.maximum.reduceat(tfs, starts) if n else tfs
        min_dlq = np.minimum.reduceat(dl_q, starts) if n else dl_q

        rows = {
            "bucket": np.full(nb, bucket, np.int32),
            "term": [term] * nb,
            "salt": np.full(nb, salt, np.int32),
            "block_id": np.arange(nb, dtype=np.int32),
            "n": (ends - starts).astype(np.int32),
            "first_docid": docids[starts],
            "last_docid": docids[ends - 1],
            "docids": [dbytes[doff[s]:doff[e]]
                       for s, e in zip(starts, ends)],
            "tfs": [tbytes[toff[s]:toff[e]]
                    for s, e in zip(starts, ends)],
            "norms": [norms_all[s:e] for s, e in zip(starts, ends)],
            "positions": [pbytes[lo:hi]
                          for lo, hi in zip(blk_pos_lo, blk_pos_hi)],
            "max_tf": max_tf.astype(np.int32),
            "min_dlq": min_dlq,
        }
        return pd.DataFrame(rows)

    return enc


def build_segments(spark: SparkSession, index_dir: str, *, gen: int = 0,
                   salt_target: int = 65536, n_chunks: int = 4,
                   partitions: int | None = None,
                   resume: bool = False,
                   postings_df: DataFrame | None = None,
                   covers: list[int] | None = None) -> dict:
    """Encode one generation's row-postings into packed segment blocks.

    Chunk c holds terms with pmod(xxhash64(term), n_chunks) == c; each chunk
    is one atomic write with its own manifest, so a killed build resumes at
    the first incomplete chunk (`resume=True`). `postings_df` overrides the
    input (used by the merge pass to feed decoded multi-gen postings).

    `covers` lists the meta (docs/postings) generations this segment
    generation represents — defaults to [gen]. segments_meta.json tracks the
    union as "covers"; readers compare it against meta["generations"] to
    detect a crash window where meta committed a generation whose segments
    were never built (the WAND path falls back to row postings until
    merge.ensure_segments repairs it).
    """
    with open(f"{index_dir}/meta.json") as f:
        meta = json.load(f)
    n_docs = int(meta["n_docs"])
    gen_dir = f"{index_dir}/segments/gen={gen}"
    os.makedirs(f"{gen_dir}/_manifest", exist_ok=True)
    p = partitions or spark.sparkContext.defaultParallelism

    # salting plan for head terms, from the global stats table (driver-side:
    # Zipf head is tiny — terms needing >1 salt are those with df > target)
    stats = spark.read.parquet(
        f"{index_dir}/{meta.get('stats_path', 'stats')}")
    head = (stats.filter(F.col("df") > salt_target)
            .select("term", F.ceil(F.col("df") / salt_target)
                    .cast("int").alias("nsalts")))
    head_rows = head.collect()
    nsalt_map = {r["term"]: r["nsalts"] for r in head_rows}

    if postings_df is not None:
        postings = postings_df
    else:
        postings = spark.read.parquet(f"{index_dir}/postings/gen={gen}")
    def build_chunk(c: int) -> dict:
        chunk_dir = f"{gen_dir}/chunk={c}"
        mpath = f"{gen_dir}/_manifest/chunk-{c}.json"
        if resume and os.path.exists(f"{chunk_dir}/_SUCCESS") \
                and os.path.exists(mpath):
            with open(mpath) as f:
                return json.load(f)
        t0 = time.time()
        part = postings.filter(
            F.pmod(F.xxhash64("term"), F.lit(n_chunks)) == c)
        if nsalt_map:
            ns_col = F.coalesce(
                F.element_at(
                    F.create_map(*[x for t, s in nsalt_map.items()
                                   for x in (F.lit(t), F.lit(s))]),
                    F.col("term")),
                F.lit(1)).cast("long")
        else:
            ns_col = F.lit(1).cast("long")
        salted = part.withColumn(
            "salt",
            ((F.col("docid") * ns_col) / F.lit(max(1, n_docs)))
            .cast("int"))
        blocks = (salted
                  .repartition(p, "term", "salt")
                  .groupBy("bucket", "term", "salt")
                  .applyInPandas(_encode_group(), schema=_BLOCK_SCHEMA))
        # lineage + metrics ride the write job via Observation — no
        # re-read-and-aggregate job per chunk (count_distinct isn't
        # supported in observe, so `terms` counts per-(term,salt) encoder
        # groups = distinct terms + extra salt groups; close enough for a
        # lineage metric and exact when nothing salted)
        from pyspark.sql import Observation
        obs = Observation()
        observed = blocks.observe(
            obs, F.count(F.lit(1)).alias("blocks"),
            F.sum("n").alias("postings"),
            F.sum(F.octet_length("docids") + F.octet_length("tfs")
                  + F.octet_length("norms")
                  + F.octet_length("positions")).alias("payload_bytes"),
            F.sum((F.col("block_id") == 0).cast("long")).alias("terms"),
            F.max("n").alias("max_block_n"))
        (observed.write.mode("overwrite").partitionBy("bucket")
                 .parquet(chunk_dir))
        m = obs.get
        man = {"chunk": c, "gen": gen,
               "blocks": int(m["blocks"] or 0),
               "postings": int(m["postings"] or 0),
               "payload_bytes": int(m["payload_bytes"] or 0),
               "terms": int(m["terms"] or 0),
               "elapsed_sec": round(time.time() - t0, 3)}
        with open(mpath, "w") as f:
            json.dump(man, f)
        return man

    # chunks are independent (disjoint term sets, separate dirs): run them
    # as concurrent Spark jobs so per-job fixed latencies overlap; each
    # chunk keeps its own atomic write + manifest, so kill-and-resume
    # granularity is unchanged
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=max(1, n_chunks)) as pool:
        manifests = list(pool.map(build_chunk, range(n_chunks)))

    total_postings = sum(m["postings"] for m in manifests)
    gen_meta = {
        "gen": gen,
        "n_chunks": n_chunks,
        "salt_target": salt_target,
        "salted_terms": len(nsalt_map),
        "max_nsalts": max(nsalt_map.values(), default=1),
        "block_size": BLOCK_SIZE,
        "postings": total_postings,
        "payload_bytes": sum(m["payload_bytes"] for m in manifests),
        "skew_ratio": (max(nsalt_map.values(), default=1) * salt_target
                       / max(1.0, total_postings
                             / max(1, sum(m["terms"] for m in manifests)))),
        "chunks": manifests,
    }
    seg_meta = _load_seg_meta(index_dir)
    prior_covers = set(seg_meta.get("covers", seg_meta.get("generations", [])))
    seg_meta["generations"] = sorted(set(seg_meta.get("generations", [])
                                         + [gen]))
    seg_meta["covers"] = sorted(
        prior_covers | set(covers if covers is not None else [gen]))
    seg_meta.setdefault("gens", {})[str(gen)] = gen_meta
    _write_seg_meta(index_dir, seg_meta)
    return gen_meta


def _load_seg_meta(index_dir: str) -> dict:
    path = f"{index_dir}/segments_meta.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"generations": [], "gens": {}}


def _write_seg_meta(index_dir: str, seg_meta: dict) -> None:
    tmp = f"{index_dir}/segments_meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(seg_meta, f, indent=2)
    os.replace(tmp, f"{index_dir}/segments_meta.json")


_DECODED_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("docid", T.LongType(), False),
    T.StructField("tf", T.IntegerType(), False),
    T.StructField("positions", T.ArrayType(T.IntegerType()), False),
    T.StructField("dl_q", T.LongType(), False),
])


def _decode_blocks(with_positions: bool):
    """mapInPandas: block rows → row-postings (term, docid, tf, positions,
    dl_q). Vectorized; one output row per posting."""

    def dec(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                docids = delta_decode_docids(r.docids)
                tfs = varint_decode(r.tfs)
                dl_q = DECODE_LUT[np.frombuffer(r.norms, dtype=np.uint8)]
                if with_positions and len(r.positions):
                    pos = decode_positions(r.positions, tfs)
                    bounds = np.cumsum(tfs)[:-1]
                    plists = [a.tolist() for a in np.split(pos, bounds)]
                else:
                    plists = [[]] * len(docids)
                outs.append(pd.DataFrame({
                    "term": r.term, "docid": docids,
                    "tf": tfs.astype(np.int32), "positions": plists,
                    "dl_q": dl_q}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return dec


class SegmentsReader:
    """Reader over packed segment generations of an index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(f"{index_dir}/segments_meta.json") as f:
            self.meta = json.load(f)
        self.generations: list[int] = self.meta["generations"]
        #: meta (docs/postings) generations represented by these segments
        self.covers: list[int] = self.meta.get("covers", self.generations)
        self._blocks: DataFrame | None = None

    @property
    def blocks(self) -> DataFrame:
        """Block relation of the manifest's generations, read once per
        reader (the manifest this reader loaded never changes)."""
        if self._blocks is None:
            base = f"{self.index_dir}/segments"
            self._blocks = self.spark.read.option("basePath", base).parquet(
                *[f"{base}/gen={g}" for g in self.generations])
        return self._blocks

    def blocks_for(self, terms: list[str], buckets: list[int]) -> DataFrame:
        uniq = sorted(set(terms))
        if not uniq:
            return self.blocks.limit(0)
        return (self.blocks
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("term").isin(uniq)))

    def postings_for(self, terms: list[str], buckets: list[int],
                     with_positions: bool = True) -> DataFrame:
        """Decode the packed blocks back to the row-postings schema — the
        whole query executor runs unchanged on packed segments.
        with_positions=False skips the position payload at the SCAN (column
        pruned from the parquet read), not just at decode."""
        cols = ["term", "docids", "tfs", "norms"]
        if with_positions:
            cols.append("positions")
        return (self.blocks_for(terms, buckets)
                .select(*cols)
                .mapInPandas(_decode_blocks(with_positions),
                             schema=_DECODED_SCHEMA))


def decoded_postings(spark: SparkSession, index_dir: str,
                     with_positions: bool = True) -> DataFrame:
    """Full decode of every block (for merge / verification jobs)."""
    r = SegmentsReader(spark, index_dir)
    return (r.blocks
            .select("term", "docids", "tfs", "norms", "positions")
            .mapInPandas(_decode_blocks(with_positions),
                         schema=_DECODED_SCHEMA))
