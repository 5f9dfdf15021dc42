"""Continuous indexing via Structured Streaming.

The reference is near-real-time: writes buffer in the engine and become
searchable on refresh (default 1 s — sv/index/IndexSettings.java:298,734),
with background tiered merges compacting segments
(sv/index/OpenSearchTieredMergePolicy.java). The Spark-native equivalent is
a file/Iceberg stream of page batches driven through
``foreachBatch(add_generation)``:

  readStream(pages) → foreachBatch: add_generation(batch)  [= refresh]
                    → should_merge? merge_segments          [= tiered merge]

Each micro-batch commits atomically via meta.json (readers never see a
partial generation), exactly like the refresh publishing a new segment
manifest. Late/duplicate batch delivery is handled by recording the batch
id INSIDE the same meta.json commit as the generation itself
(add_generation(batch_id=...)): replayed batch ids are skipped, and no
crash point can separate "generation committed" from "batch recorded" —
Structured Streaming's at-least-once contract + atomic dedup =
exactly-once indexing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparksearch.build import read_meta
from sparksearch.merge import add_generation, merge_segments, should_merge

__all__ = ["stream_index", "indexed_batches",
           "windowed_page_stats", "site_running_counts",
           "percolate_stream"]


def indexed_batches(index_dir: str) -> dict[str, int]:
    """batch_id (str) → generation it became (from meta.json)."""
    return read_meta(index_dir).get("indexed_batches", {})


def stream_index(spark: SparkSession, source_dir: str, index_dir: str,
                 checkpoint_dir: str, *, partitions: int | None = None,
                 salt_target: int = 65536,
                 segments_per_tier: int = 10,
                 available_now: bool = True):
    """Index a stream of page parquet files into `index_dir`.

    `index_dir` must hold an existing generation-0 index (build_index).
    Returns the StreamingQuery; with available_now=True it drains the
    current files and stops (the batch-test mode).
    """
    pages_stream = (spark.readStream
                    .schema("url string, warc_ts timestamp, html binary, "
                            "text string, lang string")
                    .parquet(source_dir))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if str(batch_id) in indexed_batches(index_dir):
            return  # replayed batch after restart — already committed
        add_generation(spark, index_dir, batch_df,
                       partitions=partitions,
                       salt_target=salt_target,
                       batch_id=batch_id)
        if should_merge(index_dir, segments_per_tier):
            merge_segments(spark, index_dir, partitions=partitions,
                           salt_target=salt_target)

    writer = (pages_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_page_stats(pages_stream: DataFrame,
                        window: str = "1 minute",
                        watermark: str = "2 minutes",
                        slide: str | None = None) -> DataFrame:
    """Watermarked tumbling/sliding-window ingest statistics — the
    streaming analogue of date_histogram + stats over arriving pages
    (the reference computes these at query time over the NRT index; a
    Spark pipeline computes them on the way in).

    Late data: rows older than `watermark` behind the max event time are
    dropped and their closed windows are final — append output mode only
    emits a window once the watermark passes its end, so downstream sinks
    see each bucket exactly once. State is bounded by
    (#open windows × #groups), independent of stream length.
    """
    from pyspark.sql import functions as F
    w = (F.window("warc_ts", window, slide)
         if slide else F.window("warc_ts", window))
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(w.alias("win"), "lang")
            .agg(F.count("*").cast("long").alias("doc_count"),
                 F.avg(F.length("text")).alias("avg_chars"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "lang", "doc_count", "avg_chars"))


def site_running_counts(pages_stream: DataFrame,
                        timeout_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-site
    cumulative page count + last-seen event time, emitted every batch the
    site appears in. The state (two numbers per site) survives across
    micro-batches through the checkpoint — the pattern for stateful ops
    the built-in windowed aggs can't express (running dedup sets, session
    windows with custom close rules, per-key model state).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, \
        GroupStateTimeout

    out_schema = ("site string, total_docs long, last_ts timestamp")
    state_schema = "total_docs long, last_ts_epoch double"

    def update(key, pdf_iter, state: GroupState):
        total, last = (state.get if state.exists else (0, 0.0))
        n_new, mx = 0, last
        for pdf in pdf_iter:
            n_new += len(pdf)
            if len(pdf):
                mx = max(mx, pdf["warc_ts"].max().timestamp())
        total += n_new
        state.update((total, mx))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame({"site": [key[0]], "total_docs": [total],
                            "last_ts": [pd.Timestamp(mx, unit="s")]})

    from pyspark.sql import functions as F
    keyed = pages_stream.withColumn(
        "site", F.regexp_extract("url", r"//([^/]+)/", 1))
    return (keyed.groupBy("site")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def dedup_stream(pages_stream: DataFrame,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup for a training-data ingest pipeline: drop any
    page whose content hash was already seen, ACROSS micro-batches — the
    stateful streaming form of dataops.exact_dedup.

    `dropDuplicatesWithinWatermark` keys state by content hash and evicts
    entries once the watermark passes, so state is bounded by the dedup
    horizon (vs dropDuplicates' unbounded state — at 100 TB/day the
    horizon IS the memory budget). Exactly-once across restarts comes from
    the checkpoint, same as the indexing stream. A row's first arrival
    wins; later identical content inside the horizon is dropped even if
    its event time differs."""
    from pyspark.sql import functions as F
    hashed = pages_stream.withColumn(
        "content_hash", F.sha2(F.col("text").cast("binary"), 256))
    return (hashed
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def percolate_stream(pages_stream: DataFrame, queries: DataFrame,
                     analyzer: str = "standard") -> DataFrame:
    """Continuous percolation — the alerting analogue: every stored query
    is matched against each arriving page, emitting (url, qid) alert rows
    (reference: percolator queries driving monitors/alerting; the batch
    form is percolate.percolate).

    Stateless stream-static broadcast join: the query table broadcasts to
    every micro-batch, per-doc token maps are built inside the batch, and
    no watermark or state store is needed — alerts append as pages arrive.
    At 10^12 docs/day the cost is one analyzer pass per page plus a
    broadcast loop over Q queries, exactly the batch percolator's shape.
    """
    from sparksearch.percolate import percolate
    return percolate(pages_stream, queries, analyzer, sort=False)


def session_window_stats(pages_stream: DataFrame,
                         gap: str = "30 minutes",
                         watermark: str = "1 hour",
                         key: str = "site") -> DataFrame:
    """Streaming sessionization with Spark's native ``session_window``:
    per-key sessions close after `gap` of event-time silence — the
    streaming twin of ``dataops.sessionize`` (the batch gaps-and-islands
    operator) with the SAME 30-minute-gap semantics.

    Scale shape: state is one open session per active key (merged by the
    session-window state store), evicted once the watermark passes the
    session end; shuffle is one exchange on the grouping key.  Append
    mode emits each closed session exactly once.
    """
    from pyspark.sql import functions as F
    kcol = (F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("site")
            if key == "site" else F.col(key))
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.session_window("warc_ts", gap).alias("sess"), kcol)
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum(F.length("text")).cast("long").alias("chars"))
            .select(F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"),
                    key, "n_pages", "chars"))
