"""Distributed inverted-index build: pages -> docs + postings + stats.

Spark trace of the reference's indexing path (_bulk -> DocumentParser ->
InternalEngine.index -> Lucene segments; SURVEY.md 3.2):

  pages
    -> extract/verify text (Arrow UDF; byte-identical gate)
    -> ONE fused Arrow pass (mapInPandas) that assigns deterministic dense
      docids (two-pass range-partition + per-partition offsets -- the
      tie-break contract mirroring Lucene docID order + TopDocs.merge,
      sv/action/search/SearchPhaseController.java:246-249) AND runs the
      analyzer, emitting per-doc term vectors (term, tf, positions) the way
      Lucene's writer aggregates them map-side (InternalEngine.java:844-1116)
    -> postings = pure explode of the per-doc vectors; the only
      token-granular shuffle is the repartition by (bucket, term)
    -> stats: groupBy(term) with map-side partial aggregation
    -> layout (generation-aware; meta.json is the atomic commit point, the
      analogue of Lucene's segments_N manifest):
        docs/gen=G/                docid, url, warc_ts, lang, dl, dl_q
        postings/gen=G/bucket=B/   term, docid, tf, positions, dl_q
        stats_gG/                  (named by meta["stats_path"]) term, df, cf
        meta.json                  version, n_docs, next_docid, avgdl,
                                   generations, stats_path, analyzer

Scale notes (100 TB / 10^12 docs):
  - docid assignment is the classic two-pass range-partition + per-partition
    offset scheme (one tiny P-row collect; no global window, no driver data).
  - the only Python in the build is the fused analyzer pass (Arrow batches);
    every shuffle/aggregation/write stays JVM-side.
  - `bucket` count scales with cluster size; head-term salting applies to
    the packed segment encode (segments.py) where whole posting lists must
    be materialized per task -- groupBy keys here are uniform.

Resume: each output (docs/postings/stats) is an atomic parquet write with a
_SUCCESS marker; `build_index(..., resume=True)` skips completed stages --
the batch analogue of translog checkpoint replay
(sv/index/seqno/LocalCheckpointTracker.java:47-143).
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparksearch.analysis import analyze, analyze_batch

__all__ = [
    "tokenize_udf",
    "doc_postings_udf",
    "assign_docids",
    "analyze_pages",
    "quantized_dl_col",
    "build_index",
    "read_meta",
    "write_meta",
    "INDEX_VERSION",
]

#: the one on-disk format this engine reads and writes. v5: impact-pair
#: stats (max_tf, min_dlq), position-free Parquet-array blocks, and a
#: meta.json with generations, stats_path and next_docid
INDEX_VERSION = 5

_TOKENS_SCHEMA = T.StructType([
    T.StructField("terms", T.ArrayType(T.StringType()), False),
    T.StructField("poss", T.ArrayType(T.IntegerType()), False),
])


def _executor_analyzer(analyzer):
    """Resolve a custom-analyzer NAME to its object so the closure ships it
    to executor workers (whose fresh Python interpreters never saw the
    driver-side registry); built-in names pass through as strings."""
    if isinstance(analyzer, str):
        from sparksearch.analysis_custom import get_custom
        return get_custom(analyzer) or analyzer
    return analyzer


def tokenize_udf(analyzer: str = "standard"):
    """Arrow-batched analyzer: text -> struct(terms array, positions array)."""
    analyzer = _executor_analyzer(analyzer)

    @F.pandas_udf(_TOKENS_SCHEMA)
    def _tok(texts: pd.Series) -> pd.DataFrame:
        terms_out, poss_out = [], []
        for t in texts:
            toks = analyze(t or "", analyzer)
            terms_out.append([x.term for x in toks])
            poss_out.append([x.pos for x in toks])
        return pd.DataFrame({"terms": terms_out, "poss": poss_out})

    return _tok


_DOC_POSTINGS_SCHEMA = T.StructType([
    T.StructField("dl", T.IntegerType(), False),
    T.StructField("entries", T.ArrayType(T.StructType([
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
    ])), False),
])


def doc_postings_udf(analyzer: str = "standard"):
    """Arrow-batched analyzer emitting per-doc postings directly:
    text -> struct(dl, entries: array<struct(term, tf, positions)>).
    Vectorized via analysis.analyze_batch (C-level regex/lower/factorize;
    no per-token Python)."""
    analyzer = _executor_analyzer(analyzer)

    @F.pandas_udf(_DOC_POSTINGS_SCHEMA)
    def _tok(texts: pd.Series) -> pd.DataFrame:
        dls, entries = analyze_batch(texts, analyzer)
        return pd.DataFrame({"dl": dls, "entries": entries})

    return _tok


def assign_docids(df: DataFrame, order_col: str = "url",
                  partitions: int | None = None) -> DataFrame:
    """Add a deterministic dense ``docid`` ordered globally by `order_col`.

    Two-pass, no global window: range-partition + sort, persist, count rows
    per partition (collect of P longs), then add per-partition offsets in a
    mapInPandas that never crosses partitions. This is how you zipWithIndex
    a 10^12-row table without a single-partition sort.
    """
    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(p, F.col(order_col))
                .sortWithinPartitions(order_col)
                .withColumn("_pid", F.spark_partition_id())
                .persist())
    counts = {r["_pid"]: r["cnt"] for r in
              ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [T.StructField("docid", T.LongType(), False)]
        + [f for f in df.schema.fields])

    def add_ids(iterator):
        import pandas as pd
        local = 0
        for batch in iterator:
            n = len(batch)
            if n == 0:
                continue
            base = offsets[int(batch["_pid"].iloc[0])] + local
            local += n
            out = batch.drop(columns=["_pid"])
            out.insert(0, "docid", range(base, base + n))
            yield out

    out = ranged.mapInPandas(add_ids, schema=out_schema)
    out._sparksearch_cached = ranged  # for the caller to unpersist
    return out


def run_jobs(fns) -> None:
    """Run independent Spark actions concurrently from driver threads
    (the standard multi-job pattern — one SparkContext schedules all of
    them; fixed per-job latencies overlap). Exceptions propagate."""
    from concurrent.futures import ThreadPoolExecutor
    if len(fns) == 1:
        fns[0]()
        return
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(f) for f in fns]
        for f in futs:
            f.result()


def quantized_dl_col(dl_col_name: str):
    """SmallFloat decode(encode(dl)) as a pure Catalyst expression
    (norms.quantized_dl_sql -- JVM-side, no UDF)."""
    from sparksearch.norms import quantized_dl_sql
    return F.expr(quantized_dl_sql(dl_col_name)).cast("long")


def analyze_pages(pages: DataFrame, analyzer: str = "standard",
                  partitions: int | None = None, docid_base: int = 0):
    """The fused docid-assignment + analysis stage.

    Returns (tok, ranged, n_new): `tok` is the persisted analyzed DataFrame
    (docid, url, warc_ts, lang, dl, entries, dl_q); `ranged` must be
    unpersisted by the caller when done; `n_new` is the batch row count.
    Docids are `docid_base + rank-by-url-within-batch` -- dense and
    deterministic per generation (per-segment arrival order, like Lucene).
    """
    spark = pages.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    slim = pages.select("url", "warc_ts", "lang", "text")
    ranged = (slim.repartitionByRange(p, F.col("url"))
                  .sortWithinPartitions("url")
                  .withColumn("_pid", F.spark_partition_id())
                  .persist())
    counts = {r["_pid"]: r["cnt"] for r in
              ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, docid_base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    n_new = acc - docid_base

    tok_schema = T.StructType([
        T.StructField("docid", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("dl", T.LongType(), False),
        T.StructField("entries", _DOC_POSTINGS_SCHEMA["entries"].dataType,
                      False),
    ])

    an_exec = _executor_analyzer(analyzer)

    def ids_and_analyze(iterator):
        local = 0
        for batch in iterator:
            n = len(batch)
            if n == 0:
                continue
            base = offsets[int(batch["_pid"].iloc[0])] + local
            local += n
            dls, entries = analyze_batch(batch["text"], an_exec)
            yield pd.DataFrame({
                "docid": range(base, base + n),
                "url": batch["url"].values,
                "warc_ts": batch["warc_ts"].values,
                "lang": batch["lang"].values,
                "dl": dls,
                "entries": entries,
            })

    from pyspark import StorageLevel
    tok = (ranged.mapInPandas(ids_and_analyze, schema=tok_schema)
                 .withColumn("dl_q", quantized_dl_col("dl"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    return tok, ranged, n_new


#: time-partition granularity → filename-safe, lexicographically ordered
#: pday format (data-stream / ILM rollover analogue)
TIME_PARTITION_FMT = {"day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH",
                      "minute": "yyyy-MM-dd-HH-mm"}


def _pday_col(granularity: str):
    return F.date_format("warc_ts", TIME_PARTITION_FMT[granularity])


def write_docs_postings(tok: DataFrame, out_dir: str, gen: int,
                        n_buckets: int, partitions: int | None,
                        skip_docs: bool = False,
                        skip_postings: bool = False,
                        time_partition: str | None = None,
                        index_sort: tuple[str, bool] | None = None) -> None:
    """Write one generation's docs + postings from an analyzed batch.

    time_partition ('day'/'hour'/'minute') adds a `pday` directory
    partition derived from warc_ts to BOTH datasets — the index-per-period
    layout of the reference's data streams / ILM rollover
    (sv/action/admin/indices/rollover). A time-bounded query then prunes
    whole directories before any IO, the Spark-native form of the
    can_match shard-skipping phase (sv/action/search/
    TransportSearchAction pre-filter round; SearchService#canMatch).

    index_sort (field, asc) range-sorts the DOCS layout by that field
    instead of docid — Lucene index sorting (IndexWriterConfig.setIndexSort,
    sv/index/IndexSortConfig.java): a query sorted the same way early-
    terminates after k docs. Spark shape: repartitionByRange gives files
    NON-OVERLAPPING value ranges, and `_sort_manifest.json` (per-file
    rows/min/max, written once at build from the parquet footers) lets
    `sortedscan.sorted_topk` answer a sorted top-k from a file PREFIX
    instead of a full scan."""
    if not skip_docs:
        d = tok.select("docid", "url", "warc_ts", "lang", "dl", "dl_q")
        if index_sort:
            fld, asc = index_sort
            keys = [F.col(fld).asc() if asc else F.col(fld).desc(),
                    F.col("docid").asc()]
            (d.repartitionByRange(max(1, (partitions or 8) // 2), *keys)
              .sortWithinPartitions(*keys)
              .write.mode("overwrite").parquet(f"{out_dir}/docs/gen={gen}"))
            write_sort_manifest(f"{out_dir}/docs/gen={gen}", fld)
        elif time_partition:
            (d.withColumn("pday", _pday_col(time_partition))
              .repartitionByRange(max(1, (partitions or 8) // 2), "docid")
              .sortWithinPartitions("docid")
              .write.mode("overwrite").partitionBy("pday")
              .parquet(f"{out_dir}/docs/gen={gen}"))
        else:
            (d.repartitionByRange(max(1, (partitions or 8) // 2), "docid")
              .sortWithinPartitions("docid")
              .write.mode("overwrite").parquet(f"{out_dir}/docs/gen={gen}"))
    if not skip_postings:
        postings = (tok
                    .select("docid", "warc_ts", "dl_q",
                            F.explode("entries").alias("e"))
                    .select(F.col("e.term").alias("term"), "docid",
                            F.col("e.tf").alias("tf"),
                            F.col("e.positions").alias("positions"),
                            "dl_q", "warc_ts")
                    .withColumn("bucket",
                                F.pmod(F.xxhash64("term"), F.lit(n_buckets))))
        parts = ["bucket"]
        if time_partition:
            postings = postings.withColumn("pday",
                                           _pday_col(time_partition))
            parts = ["pday", "bucket"]
        (postings.drop("warc_ts")
         .repartition(partitions or n_buckets, "bucket", "term")
         .sortWithinPartitions("term", "docid")
         .write.mode("overwrite").partitionBy(*parts)
         .parquet(f"{out_dir}/postings/gen={gen}"))


def write_sort_manifest(gen_dir: str, field: str) -> None:
    """Per-file (rows, min, max) for the index-sort field, from the
    parquet footers the write just produced — the segment-level skip
    metadata Lucene keeps per sorted segment. One footer read per file,
    driver-side, at BUILD time only; queries read the json manifest
    (at 10^12 docs this lives in the table format's metadata layer —
    Iceberg keeps identical per-file column bounds natively)."""
    import datetime

    import pyarrow.parquet as pq

    def _ser(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat(sep=" ")
        return v

    files = []
    for name in sorted(os.listdir(gen_dir)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(gen_dir, name)).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            col = next(md.row_group(rg).column(i)
                       for i in range(md.num_columns)
                       if md.row_group(rg).column(i).path_in_schema == field)
            st = col.statistics
            if st is None or not st.has_min_max:    # pragma: no cover
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return    # a file without stats poisons pruning: no manifest
        files.append({"file": name, "rows": md.num_rows,
                      "min": _ser(lo), "max": _ser(hi)})
    tmp = f"{gen_dir}/_sort_manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump({"field": field, "files": files}, f, indent=1)
    os.replace(tmp, f"{gen_dir}/_sort_manifest.json")


def write_stats(spark: SparkSession, out_dir: str, stats_df: DataFrame,
                stats_path: str, partitions: int | None):
    """Write a stats table version; returns (n_terms, max_df, total_tf).

    Metrics ride the write job itself via Observation — no separate
    re-read-and-aggregate job (r1 had ~12 sequential driver actions per
    build; these fixed latencies, not the plan shapes, were the scaling-
    efficiency shortfall)."""
    from pyspark.sql import Observation
    obs = Observation()
    (stats_df.observe(obs, F.count(F.lit(1)).alias("n"),
                      F.max("df").alias("m"),
                      F.sum("cf").alias("ttf"))
     .coalesce(max(1, (partitions or 8) // 4))
     .write.mode("overwrite").parquet(f"{out_dir}/{stats_path}"))
    vals = obs.get
    return vals["n"], vals["m"] or 0, vals["ttf"] or 0


def read_meta(index_dir: str, meta: dict | None = None) -> dict:
    """The committed meta.json of `index_dir` (or a pinned snapshot of it,
    `meta`), refused unless it is format INDEX_VERSION.

    The one place the format is checked, as Lucene checks it once when it
    opens the commit point (IndexFormatTooOldException): every reader and
    writer opens the commit through here, so an older index is refused
    before anything is read or written."""
    if meta is None:
        with open(f"{index_dir}/meta.json") as f:
            meta = json.load(f)
    if meta.get("version") != INDEX_VERSION:
        raise ValueError(
            f"{index_dir} holds index format version {meta.get('version')}; "
            f"this engine reads version {INDEX_VERSION} only: rebuild the "
            "index with build_index")
    return meta


def write_meta(out_dir: str, meta: dict) -> None:
    """Atomic meta.json replace -- the index's commit point (segments_N).

    ``created_ts`` is stamped on the FIRST commit and preserved across
    later commits (add_generation / delete sync / expunge), so age-based
    conditions (rollover max_age) measure from index creation like the
    reference's index.creation_date setting, not from the last commit."""
    os.makedirs(out_dir, exist_ok=True)
    if "created_ts" not in meta:
        prior = None
        try:
            with open(f"{out_dir}/meta.json") as f:
                prior = json.load(f).get("created_ts")
        except (OSError, ValueError):
            prior = None
        meta["created_ts"] = prior if prior is not None else time.time()
    tmp = f"{out_dir}/meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2)
    os.replace(tmp, f"{out_dir}/meta.json")


def build_index(pages: DataFrame, out_dir: str, analyzer: str = "standard",
                n_buckets: int = 8, partitions: int | None = None,
                resume: bool = False, verify_extract: bool = False,
                similarity: dict | None = None,
                time_partition: str | None = None,
                index_sort: str | tuple[str, bool] | None = None,
                search_analyzer: str | None = None) -> dict:
    """Build generation 0 of the index dataset under ``out_dir``.

    Returns the meta dict. Incremental batches: merge.add_generation.

    index_sort: a docs column name (asc) or (field, asc) — Lucene index
    sorting; see write_docs_postings.
    """
    if time_partition is not None and time_partition not in \
            TIME_PARTITION_FMT:
        raise ValueError(f"time_partition must be one of "
                         f"{sorted(TIME_PARTITION_FMT)}")
    if isinstance(index_sort, str):
        index_sort = (index_sort, True)
    if index_sort and time_partition:
        raise ValueError("index_sort and time_partition are mutually "
                         "exclusive docs layouts")
    spark = pages.sparkSession
    t0 = time.time()

    def done(stage: str) -> bool:
        return resume and os.path.exists(f"{out_dir}/{stage}/_SUCCESS")

    if verify_extract:
        from sparksearch.extract import extract_text

        @F.pandas_udf(T.BooleanType())
        def _ok(html: pd.Series, text: pd.Series) -> pd.Series:
            return pd.Series(
                [extract_text(h) == (t or "") for h, t in zip(html, text)])

        bad = pages.filter(~_ok(F.col("html"), F.col("text"))).count()
        if bad:
            raise ValueError(f"{bad} rows violate extract(html)==text")

    tok, ranged, n_docs = analyze_pages(pages, analyzer, partitions)

    # The three outputs (docs, postings, stats) are independent jobs over
    # the same persisted analyzed batch — run them CONCURRENTLY from
    # threads so their fixed driver latencies (job scheduling, stage
    # barriers, python-worker spin-up) overlap instead of adding up. On a
    # real cluster these fixed costs are what caps N→4N scaling
    # efficiency; the data-proportional stages themselves scale. The first
    # job to touch a tok partition computes it under the BlockManager's
    # per-block lock; the others read the cached block.
    stats_result: dict = {}

    def _docs_job():
        write_docs_postings(tok, out_dir, 0, n_buckets, partitions,
                            skip_docs=done("docs/gen=0"),
                            skip_postings=True,
                            time_partition=time_partition,
                            index_sort=index_sort)

    def _postings_job():
        write_docs_postings(tok, out_dir, 0, n_buckets, partitions,
                            skip_docs=True,
                            skip_postings=done("postings/gen=0"),
                            time_partition=time_partition)

    stats_path = "stats_g0"

    def _stats_job():
        if not done(stats_path):
            # aggregate straight off the persisted analyzed batch
            # (map-side partial combine on the Zipf dictionary) — not a
            # re-read of the postings parquet just written. (max_tf,
            # min_dlq) is the term-level impact pair: monotone-aggregable
            # (max/min) across generations, it lets WAND derive a sound
            # per-term score upper bound driver-side from the stats lookup
            # it already does — no per-query gmax job over block metadata.
            stats_df = (tok.select("dl_q", F.explode("entries").alias("e"))
                        .groupBy(F.col("e.term").alias("term"))
                        .agg(F.count("*").cast("long").alias("df"),
                             F.sum("e.tf").cast("long").alias("cf"),
                             F.max("e.tf").cast("int").alias("max_tf"),
                             F.min("dl_q").cast("long").alias("min_dlq")))
            stats_result["v"] = write_stats(
                spark, out_dir, stats_df, stats_path, partitions)
        else:
            stats = spark.read.parquet(f"{out_dir}/{stats_path}")
            srow = stats.agg(F.count("*").alias("n"),
                             F.max("df").alias("m"),
                             F.sum("cf").alias("ttf")).collect()[0]
            stats_result["v"] = (srow["n"], srow["m"] or 0, srow["ttf"] or 0)

    run_jobs([_docs_job, _postings_job, _stats_job])
    n_terms, max_df, total_tf = stats_result["v"]

    avgdl = (total_tf / n_docs) if n_docs else 1.0
    from sparksearch.analysis_custom import get_custom
    _ca = get_custom(analyzer) if isinstance(analyzer, str) else None
    # mapping-level search_analyzer (TextFieldMapper searchAnalyzer):
    # query-text analysis defaults to this, index-side analysis keeps
    # `analyzer` — the canonical autocomplete split (index edge_ngram,
    # search keyword/standard)
    _sa = get_custom(search_analyzer) \
        if isinstance(search_analyzer, str) else None
    meta = {
        "version": INDEX_VERSION,
        "analyzer": analyzer,
        **({"analyzer_def": _ca.definition} if _ca is not None else {}),
        **({"search_analyzer": search_analyzer}
           if search_analyzer else {}),
        **({"search_analyzer_def": _sa.definition}
           if _sa is not None else {}),
        # index-level similarity setting (SimilarityService); validated now
        # so a typo fails the build, not the first query
        **({"similarity": __import__(
                "sparksearch.similarity", fromlist=["from_config"])
                .from_config(similarity).to_config()}
           if similarity is not None else {}),
        **({"time_partition": time_partition}
           if time_partition is not None else {}),
        **({"index_sort": {"field": index_sort[0], "asc": index_sort[1]}}
           if index_sort is not None else {}),
        "n_docs": int(n_docs),
        "next_docid": int(n_docs),
        "total_tf": int(total_tf),
        "avgdl": float(avgdl),
        "n_terms": int(n_terms),
        "n_buckets": int(n_buckets),
        "generations": [0],
        "stats_path": stats_path,
        "metrics": {
            "build_sec": round(time.time() - t0, 3),
            "max_df": int(max_df),
            "skew_ratio_df": float(max_df) / max(1.0,
                                                 total_tf / max(1, n_terms)),
        },
    }
    write_meta(out_dir, meta)
    tok.unpersist()
    ranged.unpersist()
    return meta
