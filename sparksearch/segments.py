"""Packed posting segments: Parquet-native 128-doc blocks with block-max
metadata — the impact index block-max WAND reads.

The Spark analogue of the `.doc` file of Lucene's segments (reference
wiring:
/root/reference/server/src/main/java/org/opensearch/index/codec/CodecService.java:37-69
selects Lucene90PostingsFormat [Lucene 9.4, public]: 128-doc blocks,
delta/FOR compression, per-block impacts for block-max WAND, positions in
their own `.pos` file that WAND never opens;
/root/reference/server/src/main/java/org/opensearch/index/engine/InternalEngine.java:844-1116
is the write path). Layout under <index_dir>/segments/:

  gen=G/chunk=J/bucket=B/part-*.parquet   one row per posting BLOCK:
      term, salt, block_id, n, first_docid, last_docid,
      docids array<bigint> (absolute), tfs array<int>,
      dlqs array<int> (the quantized doc length of each posting),
      max_tf INT, min_dlq BIGINT (the block impact pair — like Lucene's
      (freq, norm) impacts, stored avgdl-independent so the bound stays
      sound when later generations shift global avgdl/N)
  gen=G/_manifest/chunk-J.json            per-chunk lineage + metrics
  segments_meta.json                      generations, params

Blocks serve WAND only: every other query reads the row postings (the
one posting store), so blocks carry no positions.

The block payload is plain Parquet arrays, so the engine itself encodes
and decodes it: blocks are built by Catalyst (a row_number over each
(term, salt) run numbers the blocks, a sorted collect_list packs them) and
read back by one inline(arrays_zip(...)) generator (`decode_blocks`). No
Python worker runs in this layer. Compression is Parquet's: v2 data pages
with dictionary encoding off for docids make that column
DELTA_BINARY_PACKED (bit-packed gaps, the FOR analogue), and tfs / dlqs
dictionary-encode (dlqs has at most 256 distinct values).

Scale design:
  - the encode shuffle is keyed by (term, salt): head terms (Zipf — default
    standard analyzer keeps stopwords!) are range-salted by docid
    (salt = docid * S / n_docs, S = ceil(df / salt_target)) so no single
    task ever materializes more than ~salt_target postings; dense docids
    make the ranges perfectly balanced, and range (not hash) salting keeps
    each salted run contiguous so blocks stay globally docid-ordered. The
    block numbering window and the packing aggregate both reuse that
    partitioning, so the encode has one shuffle.
  - chunked writes (term-hash chunks, each with its own _SUCCESS +
    manifest) give mid-build resume at sub-index granularity — the batch
    analogue of the reference's per-shard translog checkpoints
    (sv/index/seqno/LocalCheckpointTracker.java:47-143).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparksearch.build import read_meta

__all__ = ["build_segments", "encode_blocks", "decode_blocks",
           "SegmentsReader", "next_generation", "BLOCK_SIZE"]

#: docs per posting block (Lucene90PostingsFormat block size).
BLOCK_SIZE = 128

#: Parquet writer settings for block files: v2 pages, and no dictionary on
#: the high-cardinality docids, so they are DELTA_BINARY_PACKED (a
#: dictionary of absolute docids is about 3x the size of their gaps)
_WRITE_OPTIONS = {
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#docids.list.element": "false",
}


def encode_blocks(postings: DataFrame, n_docs: int,
                  nsalt_map: dict[str, int], partitions: int) -> DataFrame:
    """Row postings (bucket, term, docid, tf, dl_q) → one row
    per posting block of the segment layout, all in Catalyst.

    `nsalt_map` gives the salt count of each head term (others get 1);
    salt s of a term holds the docids in [s·n_docs/S, (s+1)·n_docs/S),
    where `n_docs` spans the docid space (meta's next_docid)."""
    if nsalt_map:
        ns_col = F.coalesce(
            F.element_at(
                F.create_map(*[x for t, s in nsalt_map.items()
                               for x in (F.lit(t), F.lit(s))]),
                F.col("term")),
            F.lit(1)).cast("long")
    else:
        ns_col = F.lit(1).cast("long")
    salted = postings.withColumn(
        "salt",
        ((F.col("docid") * ns_col) / F.lit(max(1, n_docs))).cast("int"))
    run = Window.partitionBy("term", "salt").orderBy("docid")
    doc = F.struct("docid", "tf", F.col("dl_q").cast("int").alias("dl_q"))
    packed = (salted
              .repartition(partitions, "term", "salt")
              .withColumn("block_id",
                          ((F.row_number().over(run) - 1) / BLOCK_SIZE)
                          .cast("int"))
              .groupBy("bucket", "term", "salt", "block_id")
              .agg(F.sort_array(F.collect_list(doc)).alias("d")))
    return packed.select(
        "bucket", "term", "salt", "block_id",
        F.size("d").alias("n"),
        F.col("d")[0]["docid"].alias("first_docid"),
        F.element_at("d", -1)["docid"].alias("last_docid"),
        F.col("d.docid").alias("docids"),
        F.col("d.tf").alias("tfs"),
        F.col("d.dl_q").alias("dlqs"),
        F.array_max("d.tf").alias("max_tf"),
        F.array_min("d.dl_q").cast("long").alias("min_dlq"))


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Block rows → (term, docid, tf, dl_q), one row per posting, by one
    Catalyst generator."""
    rows = blocks.select("term", F.inline(F.arrays_zip("docids", "tfs",
                                                         "dlqs")))
    return rows.select(
        "term", F.col("docids").alias("docid"), F.col("tfs").alias("tf"),
        F.col("dlqs").cast("long").alias("dl_q"))


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def build_segments(spark: SparkSession, index_dir: str, *, gen: int = 0,
                   salt_target: int = 65536, n_chunks: int = 4,
                   partitions: int | None = None,
                   resume: bool = False,
                   postings_df: DataFrame | None = None,
                   covers: list[int] | None = None) -> dict:
    """Encode one generation's row-postings into packed segment blocks.

    Chunk c holds terms with pmod(xxhash64(term), n_chunks) == c; each chunk
    is one atomic write with its own manifest, so a killed build resumes at
    the first incomplete chunk (`resume=True`); without `resume` the
    generation's directory is rebuilt from scratch. `postings_df` overrides
    the input (used by the merge pass to feed decoded multi-gen postings).

    `covers` lists the meta (docs/postings) generations this segment
    generation represents — defaults to [gen]. segments_meta.json tracks the
    union as "covers"; readers compare it against meta["generations"] to
    detect a crash window where meta committed a generation whose segments
    were never built (the WAND path falls back to row postings until
    merge.ensure_segments repairs it).
    """
    meta = read_meta(index_dir)
    n_docs = int(meta["next_docid"])  # the docid space the salts split
    gen_dir = f"{index_dir}/segments/gen={gen}"
    if not resume:
        shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(f"{gen_dir}/_manifest", exist_ok=True)
    p = partitions or spark.sparkContext.defaultParallelism

    # salting plan for head terms, from the global stats table (driver-side:
    # Zipf head is tiny — terms needing >1 salt are those with df > target)
    stats = spark.read.parquet(f"{index_dir}/{meta['stats_path']}")
    head = (stats.filter(F.col("df") > salt_target)
            .select("term", F.ceil(F.col("df") / salt_target)
                    .cast("int").alias("nsalts")))
    nsalt_map = {r["term"]: r["nsalts"] for r in head.collect()}

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
        blocks = encode_blocks(part, n_docs, nsalt_map, p)
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
            F.sum((F.col("block_id") == 0).cast("long")).alias("terms"),
            F.max("n").alias("max_block_n"))
        (observed.write.mode("overwrite").options(**_WRITE_OPTIONS)
                 .partitionBy("bucket").parquet(chunk_dir))
        m = obs.get
        man = {"chunk": c, "gen": gen,
               "blocks": int(m["blocks"] or 0),
               "postings": int(m["postings"] or 0),
               "payload_bytes": _parquet_bytes(chunk_dir),
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
    seg_meta["generations"] = sorted(set(seg_meta["generations"] + [gen]))
    seg_meta["covers"] = sorted(
        set(seg_meta["covers"]) | set(covers if covers is not None else [gen]))
    seg_meta["gens"][str(gen)] = gen_meta
    _write_seg_meta(index_dir, seg_meta)
    return gen_meta


def _load_seg_meta(index_dir: str) -> dict:
    path = f"{index_dir}/segments_meta.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"generations": [], "covers": [], "gens": {}}


def _write_seg_meta(index_dir: str, seg_meta: dict) -> None:
    tmp = f"{index_dir}/segments_meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(seg_meta, f, indent=2)
    os.replace(tmp, f"{index_dir}/segments_meta.json")


def next_generation(index_dir: str) -> int:
    """1 + the largest generation in meta.json or segments_meta.json: one
    number space, so no writer rebuilds over another's generation."""
    return 1 + max(read_meta(index_dir)["generations"]
                   + _load_seg_meta(index_dir)["generations"])


class SegmentsReader:
    """Reader over packed segment generations of an index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(f"{index_dir}/segments_meta.json") as f:
            self.meta = json.load(f)
        self.generations: list[int] = self.meta["generations"]
        #: meta (docs/postings) generations represented by these segments
        self.covers: list[int] = self.meta["covers"]
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
