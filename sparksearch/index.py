"""Index dataset handle: lazy DataFrames over the build output."""

from __future__ import annotations

import copy
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.build import read_meta, write_meta

__all__ = ["IndexReader", "index_stats", "set_alias", "resolve_alias",
           "open_index", "pit_reader", "literal_frame"]


class IndexReader:
    """Handle over an index directory produced by build.build_index.

    DataFrames are lazy; term lookups prune by `bucket` directory partition
    + parquet row-group min/max on the sorted `term` column.

    Opening a reader refuses any index format but build.INDEX_VERSION
    (build.read_meta), also for a pinned point-in-time snapshot.

    A reader is pinned to one meta.json commit, so each table is read (its
    files listed and its schema inferred, one Spark job) once per reader,
    and every later access derives from that relation. Opening the reader
    reads them (and, on a use_segments reader, the segment blocks), as
    Lucene's DirectoryReader.open opens its segments: no query, the first
    included, runs a schema job. Term statistics are cached per reader too
    (`stats_for`). `reload()` or `pit_reader` start a fresh reader with
    fresh caches.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 use_segments: bool = False, meta: dict | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # meta: a pinned snapshot (point-in-time) — see open_pit
        self.meta = dict(read_meta(index_dir, meta))
        self.n_docs: int = self.meta["n_docs"]
        self.avgdl: float = self.meta["avgdl"]
        self.analyzer: str = self.meta["analyzer"]
        if "analyzer_def" in self.meta:
            # custom analyzer persisted with the index (settings analysis
            # block) — re-register so this session can analyze queries
            from sparksearch.analysis_custom import ensure_registered
            ensure_registered(self.analyzer, self.meta["analyzer_def"])
        #: query-text analyzer (mapping search_analyzer; defaults to the
        #: index analyzer — TextFieldMapper searchAnalyzer fallback)
        self.search_analyzer: str = self.meta.get("search_analyzer",
                                                  self.analyzer)
        if "search_analyzer_def" in self.meta:
            from sparksearch.analysis_custom import ensure_registered
            ensure_registered(self.search_analyzer,
                              self.meta["search_analyzer_def"])
        #: 'day'/'hour'/'minute' when the index layout is time-partitioned
        #: (pday directory column on docs + postings)
        self.time_partition: str | None = self.meta.get("time_partition")
        self.n_buckets: int = self.meta["n_buckets"]
        self.generations: list[int] = self.meta["generations"]
        self.stats_path: str = self.meta["stats_path"]
        #: let Executor.search run match queries by block-max WAND
        #: over the packed segments (segments.py)
        self.use_segments = use_segments
        self._segments = None
        self._covered: bool | None = None
        #: soft-delete tombstones (delete-by-query): docid parquet files
        #: under deletes/, committed in meta.json. Results exclude them;
        #: global stats keep counting them until expunge_deletes — exactly
        #: Lucene's liveDocs-before-merge semantics (deleted docs still
        #: contribute to docFreq/avgdl until segments merge them away).
        self.delete_files: list[str] = self.meta.get("deletes", [])
        self.n_deleted: int = int(self.meta.get("n_deleted", 0))
        #: runtime fields (with_runtime): name → compiled Catalyst column,
        #: appended to the docs frame at plan time
        self._runtime: dict = {}
        #: doc-values sidecars (with_docvalues): (frame, join key) pairs
        #: left-joined into the docs scan
        self._sidecars: list = []
        #: table name → relation read once for this commit; shared with
        #: the with_* copies, which read the same commit
        self._relations: dict[str, DataFrame] = {}
        #: term → (df, cf, max_tf, min_dlq), or None for a term the index
        #: does not hold; filled by stats_for
        self._term_stats: dict[str, tuple | None] = {}
        self._gen_union("docs")
        self._gen_union("postings")
        self.stats
        self.deleted
        if use_segments and self.segments_cover_all():
            self.segments.blocks

    def reload(self) -> "IndexReader":
        """Re-read meta.json (after add_generation / merge commits)."""
        return IndexReader(self.spark, self.index_dir, self.use_segments)

    @property
    def segments(self):
        if self._segments is None:
            from sparksearch.segments import SegmentsReader
            self._segments = SegmentsReader(self.spark, self.index_dir)
        return self._segments

    def segments_cover_all(self) -> bool:
        """True iff the registered segment generations represent EXACTLY the
        committed meta generations — false in the crash/mid-build window
        where meta committed a generation whose segments aren't registered
        yet (segments would silently omit those docs) or segments hold an
        uncommitted generation (phantom docs). The WAND path falls back to
        row postings until merge.ensure_segments repairs.
        Cached per reader instance — IndexReader.reload() picks up commits,
        matching the snapshot semantics of meta loaded at init."""
        if self._covered is None:
            import os
            self._covered = (
                os.path.exists(f"{self.index_dir}/segments_meta.json")
                and set(self.segments.covers) == set(self.generations))
        return self._covered

    def _relation(self, name: str, *paths: str,
                  base: str | None = None) -> DataFrame:
        """The parquet relation over `paths`, read once per reader."""
        df = self._relations.get(name)
        if df is None:
            reader = self.spark.read
            if base is not None:
                reader = reader.option("basePath", base)
            df = self._relations[name] = reader.parquet(*paths)
        return df

    def _gen_union(self, root: str) -> DataFrame:
        base = f"{self.index_dir}/{root}"
        return self._relation(
            root, *[f"{base}/gen={g}" for g in self.generations], base=base)

    @property
    def deleted(self) -> DataFrame | None:
        """(docid) tombstone frame, or None when the index has no deletes."""
        if not self.delete_files:
            return None
        return self._relation(
            "deletes",
            *[f"{self.index_dir}/{p}" for p in self.delete_files]) \
            .select("docid")

    def live(self, df: DataFrame) -> DataFrame:
        """Apply liveDocs: anti-join the tombstone set (broadcast while the
        committed tombstone count is broadcast-sized; past that Spark plans
        a shuffled anti-join, which is the right plan for mass deletes)."""
        d = self.deleted
        if d is None:
            return df
        if self.n_deleted <= 5_000_000:
            d = F.broadcast(d)
        return df.join(d, "docid", "left_anti")

    @property
    def docs(self) -> DataFrame:
        df = self.live(self._gen_union("docs"))
        for sdf, key in self._sidecars:
            df = df.join(sdf, key, "left")
        for name, col in self._runtime.items():
            df = df.withColumn(name, col)
        return df

    def with_docvalues(self, frame: DataFrame,
                       on: str = "url") -> "IndexReader":
        """Attach extra doc-values columns (e.g. an array-of-structs
        NESTED field) as a columnar sidecar left-joined into every docs
        scan on the unique doc key. The reference stores nested objects
        as hidden child docs inside the parent's Lucene block
        (sv/index/mapper/ObjectMapper nested=true +
        NestedQueryBuilder.java); the Spark-native analogue keeps them
        as one array column in a sidecar table — filter lambdas
        (nested.py) then run inside the joined scan with no child-doc
        materialization. At cluster scale, write the sidecar bucketed by
        the same key as docs so the join is co-located."""
        r = copy.copy(self)
        r._sidecars = list(self._sidecars) + [(frame, on)]
        return r

    def with_runtime(self, mappings: dict) -> "IndexReader":
        """Runtime fields: search-time script-derived columns
        (sv runtime fields — x-pack runtime mappings / `runtime_mappings`
        in the search request). Each mapping is a Painless-subset source
        compiled to a Catalyst expression (painless.py) and inlined into
        the SAME docs scan as every doc-values column — term/range/exists
        filters, sorts, and aggs over a runtime field plan identically to
        a stored field, with zero materialization."""
        from sparksearch.painless import compile_script
        r = copy.copy(self)
        r._runtime = dict(self._runtime)
        for name, src in mappings.items():
            r._runtime[name] = compile_script(src).column()
        return r

    def with_token_count(self, field: str = "text",
                         name: str | None = None) -> "IndexReader":
        """`token_count` field type (mapper-extras
        TokenCountFieldMapper): a numeric sub-field holding the number
        of tokens the index analyzer produced for `field`. The count is
        an INDEX-TIME doc value — here it is exactly the stored per-doc
        `dl` statistic (computed by the same analyzer pass that built
        the postings), so the mapping is a zero-cost column alias on the
        docs scan; term/range/sort/agg over it plan like any stored
        field."""
        if field != "text":
            raise ValueError("token_count: only the indexed text field "
                             "has a stored analyzer token count")
        r = copy.copy(self)
        r._runtime = dict(self._runtime)
        r._runtime[name or f"{field}_tokens"] = F.col("dl")
        return r

    def open_pit(self) -> dict:
        """Point-in-time: pin the committed snapshot (generation list,
        doc/stats totals, and the generation-versioned stats path) — a
        reader over the returned pit dict keeps answering from exactly
        this commit while add_generation keeps appending
        (sv/action/search CreatePitController; Lucene PIT = a held
        IndexReader over the segments_N commit). Caveat shared with the
        reference: a merge that deletes pinned generation dirs
        invalidates outstanding PITs — the reference pins segment refs
        against deletion; batch jobs should expunge only after draining
        PITs."""
        return {"index_dir": self.index_dir, "meta": dict(self.meta),
                "use_segments": self.use_segments}

    @property
    def postings(self) -> DataFrame:
        return self.live(self._gen_union("postings"))

    @property
    def stats(self) -> DataFrame:
        return self._relation("stats", f"{self.index_dir}/{self.stats_path}")

    def bucket_of(self, term: str) -> int:
        """Driver-side bucket id for a term == pmod(xxhash64(term), B).
        Pure Python (xxhash.py, parity-pinned vs the JVM expression by
        tests/test_xxhash.py) — no Spark job for query planning."""
        from sparksearch.xxhash import spark_bucket
        return spark_bucket(term, self.n_buckets)

    def postings_for(self, terms: list[str],
                     time_window: tuple[str | None, str | None] | None
                     = None) -> DataFrame:
        """Row postings restricted to the query terms (partition-pruned).

        The one posting store: on a use_segments reader too, packed
        blocks serve only block-max WAND (wand.py).

        time_window=(lo, hi) — pday strings in the index's time-partition
        format — prunes whole time directories before any IO (the
        can_match shard-skip analogue). An over-approximation by design:
        row-level timestamp filters still apply downstream, so a wider
        window is never wrong, only less pruned. Ignored unless the index
        was built with time_partition."""
        if not terms:
            return self.postings.limit(0)
        uniq = sorted(set(terms))
        # one scan; bucket IN (...) prunes directories, term IN (...) prunes
        # row groups via min/max on the sorted term column
        buckets = self._buckets_of(uniq)
        # .postings is already live-filtered
        out = (self.postings
               .filter(F.col("bucket").isin(buckets))
               .filter(F.col("term").isin(uniq)))
        if time_window and self.time_partition:
            lo, hi = time_window
            if lo is not None:
                out = out.filter(F.col("pday") >= lo)
            if hi is not None:
                out = out.filter(F.col("pday") <= hi)
        return out

    def _buckets_of(self, terms: list[str]) -> list[int]:
        from sparksearch.xxhash import spark_bucket
        return sorted({spark_bucket(t, self.n_buckets) for t in terms})

    def stats_for(self, terms: list[str]) -> dict[str, tuple]:
        """{term: (df, cf, max_tf, min_dlq)} for the given terms the index
        holds; terms it does not hold are left out. One bounded collect
        for the terms this reader has not looked up before, none when
        all were.

        Every scoring path reads term statistics through this one method,
        so a reader view may override it (multisearch._DfsReader)."""
        want = sorted(set(terms) - self._term_stats.keys())
        if want:
            got = {r[0]: tuple(r[1:]) for r in
                   self.stats.filter(F.col("term").isin(want))
                   .select("term", "df", "cf", "max_tf", "min_dlq")
                   .collect()}
            for t in want:
                self._term_stats[t] = got.get(t)
        return {t: v for t in set(terms)
                if (v := self._term_stats[t]) is not None}


def literal_frame(spark: SparkSession, names: list[str],
                  rows: list[tuple]) -> DataFrame:
    """A few driver-side rows as a JVM literal relation: one
    array-of-structs literal expanded by inline(). A DataFrame built from
    a Python list instead runs a Python-worker stage, one task per
    default-parallelism partition, each time it is scanned."""
    return spark.range(1, numPartitions=1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).alias(n) for n, v in zip(names, r)])
        for r in rows])))


def pit_reader(spark: SparkSession, pit: dict) -> "IndexReader":
    """Reader over an open_pit snapshot — ignores every commit after it."""
    return IndexReader(spark, pit["index_dir"],
                       use_segments=pit["use_segments"], meta=pit["meta"])


def index_stats(ix: "IndexReader") -> DataFrame:
    """`_stats`/`_cat/indices` analogue: one row of index-level statistics
    from the committed meta + segments manifests (doc count, term count,
    total tf, avgdl, generations, packed-segment payload bytes) — all
    driver-side metadata, no scan (sv/action/admin/indices/stats)."""
    from sparksearch.segments import _load_seg_meta
    m = ix.meta
    seg_payload = sum(g["payload_bytes"] for g in
                      _load_seg_meta(ix.index_dir)["gens"].values())
    row = [(int(m["n_docs"]), int(m["n_terms"]), int(m["total_tf"]),
            float(round(m["avgdl"], 6)), len(ix.generations),
            int(seg_payload))]
    return ix.spark.createDataFrame(
        row, "n_docs bigint, n_terms bigint, total_tf bigint, "
             "avgdl double, n_generations int, segment_payload_bytes bigint")


# ---------------------------------------------------------------------------
# index aliases (sv/cluster/metadata/AliasMetadata — zero-downtime reindex)
# ---------------------------------------------------------------------------

def set_alias(registry_path: str, alias: str, index_dir: str) -> None:
    """Point `alias` at `index_dir` with an atomic registry replace —
    readers opening through the alias see the old or the new index, never
    a partial state (the blue/green reindex swap)."""
    import os
    reg = {}
    if os.path.exists(registry_path):
        with open(registry_path) as f:
            reg = json.load(f)
    reg[alias] = index_dir
    tmp = registry_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=2)
    os.replace(tmp, registry_path)


def resolve_alias(registry_path: str, name: str) -> str:
    """Resolve `name` through the alias registry; a non-alias name (or a
    missing registry) passes through as a literal index dir."""
    import os
    if os.path.exists(registry_path):
        with open(registry_path) as f:
            reg = json.load(f)
        if name in reg:
            return reg[name]
    return name


def open_index(spark: SparkSession, name: str, registry_path: str = "",
               use_segments: bool = False) -> "IndexReader":
    """Open an index by directory OR by alias (when a registry is given)."""
    target = resolve_alias(registry_path, name) if registry_path else name
    return IndexReader(spark, target, use_segments=use_segments)


def field_caps(ix: "IndexReader") -> DataFrame:
    """`_field_caps` analogue: per-field type + capabilities from the
    index's schemas — doc-values fields from the docs table, the analyzed
    text field from the postings store
    (sv/action/fieldcaps/TransportFieldCapabilitiesAction.java)."""
    rows = [("text", "text", True, False)]
    for f in ix.docs.schema.fields:
        rows.append((f.name, f.dataType.simpleString(), True, True))
    return ix.spark.createDataFrame(
        rows, "field string, type string, searchable boolean, "
              "aggregatable boolean").orderBy("field")


def rollover(registry_path: str, alias: str, new_index_dir: str,
             max_docs: int | None = None,
             max_age_s: float | None = None) -> dict:
    """_rollover analogue (action/admin/indices/rollover/
    TransportRolloverAction.java + RolloverConditions): evaluate the
    conditions against the alias's CURRENT write index; when any is met,
    atomically repoint the alias at `new_index_dir` (built beforehand by
    the caller — index builds are batch jobs here, so the "create new
    index" step of the REST action is the preceding build).  Returns the
    REST-response shape: per-condition evaluation + `rolled_over`.

    Conditions: ``max_docs`` vs the index's committed ``n_docs``;
    ``max_age_s`` vs the index's ``created_ts`` (stamped at first commit
    by build.write_meta — the reference's index.creation_date; meta.json's
    mtime moves on EVERY commit, which would let a frequently-updated
    index defer age-based rollover forever).  No conditions at all =
    unconditional rollover, matching the REST default.
    """
    import time as _time
    cur = resolve_alias(registry_path, alias)
    meta = read_meta(cur)
    age_s = _time.time() - meta["created_ts"]
    conds: dict[str, bool] = {}
    if max_docs is not None:
        conds[f"[max_docs: {max_docs}]"] = meta["n_docs"] >= max_docs
    if max_age_s is not None:
        conds[f"[max_age: {max_age_s}s]"] = age_s >= max_age_s
    rolled = (not conds) or any(conds.values())
    if rolled:
        set_alias(registry_path, alias, new_index_dir)
    return {"rolled_over": rolled, "conditions": conds,
            "old_index": cur, "new_index": new_index_dir if rolled else cur}


def reshard(spark: SparkSession, index_dir: str, out_dir: str,
            n_buckets: int, partitions: int | None = None) -> dict:
    """_split / _shrink analogue (action/admin/indices/shrink/
    TransportResizeAction.java): re-bucket an existing index to a new
    shard (bucket) count WITHOUT re-analyzing — postings rows are read
    back, re-assigned `bucket = pmod(xxhash64(term), new_n)`, and
    rewritten partitioned by the new bucket; docs/stats/meta carry over.
    Like the reference's resize, the result is a NEW index directory and
    the source stays untouched (swap via `set_alias`).

    Scale shape: one full postings scan + one shuffle on the new bucket
    key — no tokenization, no stats recompute; the docs and stats tables
    are rewritten as-is (index-sort layout + manifest preserved).
    Tombstones are carried over AS TOMBSTONES (pre-merge semantics): the
    raw rows are rewritten, the delete files are copied, and
    n_docs / n_deleted / stats all carry over unchanged — so scoring
    matches the source exactly (the reference's
    deletes-don't-affect-idf-until-merge behavior) AND the doc-count
    bookkeeping stays internally consistent: a later expunge_deletes on
    the resharded index reconciles counts the same way it would have on
    the source.  Works on the row-postings layout; rebuild packed
    segments afterwards with `segments.build_segments`.
    """
    import os
    import shutil

    from pyspark.sql import functions as F
    ix = IndexReader(spark, index_dir)
    os.makedirs(out_dir, exist_ok=True)
    post = ix._gen_union("postings").drop("bucket").withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    p = partitions or max(8, n_buckets)
    parts = ["pday", "bucket"] if ix.time_partition else ["bucket"]
    (post.repartition(p, "bucket", "term")
     .sortWithinPartitions("term", "docid")
     .write.mode("overwrite").partitionBy(*parts)
     .parquet(f"{out_dir}/postings/gen=0"))
    isort = ix.meta.get("index_sort")
    if isort:
        # preserve the sorted-docs layout + its per-file skip manifest
        from sparksearch.build import write_sort_manifest
        fld = isort["field"]
        key = F.col(fld).asc() if isort["asc"] else F.col(fld).desc()
        (ix._gen_union("docs")
         .repartitionByRange(max(1, p // 2), key,
                             F.col("docid").asc())
         .sortWithinPartitions(key, F.col("docid").asc())
         .write.mode("overwrite").parquet(f"{out_dir}/docs/gen=0"))
        write_sort_manifest(f"{out_dir}/docs/gen=0", fld)
    elif ix.time_partition:
        (ix._gen_union("docs").write.mode("overwrite").partitionBy("pday")
         .parquet(f"{out_dir}/docs/gen=0"))
    else:
        ix._gen_union("docs").write.mode("overwrite") \
            .parquet(f"{out_dir}/docs/gen=0")
    ix.stats.write.mode("overwrite").parquet(f"{out_dir}/{ix.stats_path}")
    meta = dict(ix.meta)
    meta["n_buckets"] = int(n_buckets)
    meta["generations"] = [0]
    # pre-merge semantics: tombstone files come along, counts unchanged
    for rel in ix.delete_files:
        dst = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copytree(os.path.join(index_dir, rel), dst,
                        dirs_exist_ok=True)
    meta["resharded_from"] = index_dir
    write_meta(out_dir, meta)
    return {"source": index_dir, "target": out_dir,
            "n_buckets": int(n_buckets)}
