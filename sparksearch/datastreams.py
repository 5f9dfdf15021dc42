"""Data streams: append-only named streams over generation-numbered
backing indices.

Reference: server/src/main/java/org/opensearch/cluster/metadata/
DataStream.java (BACKING_INDEX_PREFIX ".ds-", getDefaultBackingIndexName
"%s-%06d":166, rollover():105 increments the generation and appends the
new write index, removeBackingIndex must not remove the write index),
MetadataCreateDataStreamService.java (creation requires a matching v2
index template WITH a data_stream definition; every indexed document
must carry the stream's timestamp field). Searches span every backing
index with coordinator-aggregated statistics (the DFS mode in
multisearch.py), so BM25 scores equal a single unified index.

Spark-first shape: each backing index is an ordinary index directory
(build.build_index / merge.add_generation — all the scale properties of
the batch path apply per backing index); the stream itself is a small
JSON registry updated with atomic replace, like aliases and templates.
The timestamp requirement rides the indexing job itself via a
raise_error column guard — no extra validation pass over the batch.
"""
from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.build import read_meta

BACKING_INDEX_PREFIX = ".ds-"

__all__ = [
    "backing_index_name", "create_data_stream", "delete_data_stream",
    "data_stream_write", "data_stream_rollover", "remove_backing_index",
    "data_stream_executors", "data_stream_search", "data_stream_stats",
]


def backing_index_name(name: str, generation: int) -> str:
    """DataStream.getDefaultBackingIndexName — ``.ds-<name>-%06d``."""
    return f"{BACKING_INDEX_PREFIX}{name}-{generation:06d}"


def _load(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _save(path: str, reg: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def _entry(reg: dict, name: str) -> dict:
    if name not in reg:
        raise KeyError(f"unknown data stream: {name!r}")
    return reg[name]


def create_data_stream(ds_path: str, template_path: str, name: str,
                       base_dir: str,
                       pipelines_path: str | None = None) -> dict:
    """``PUT _data_stream/<name>``: requires a matching v2 index template
    that declares a ``data_stream`` block; the stream starts at
    generation 1 with one (empty) backing index slot. Name rules follow
    MetadataCreateDataStreamService.validatePrefix: lowercase, no
    whitespace, must not start with '.', '-', '_', '+'."""
    if (name != name.lower() or re.search(r"[\s,\\/*?\"<>|#:]", name)
            or name[:1] in (".", "-", "_", "+") or not name):
        raise ValueError(f"invalid data stream name: {name!r}")
    from sparksearch import templates as T
    tpl_name = T.find_template(template_path, name)
    if tpl_name is None:
        raise ValueError(
            f"no matching index template for data stream {name!r}")
    reg_t = T._load(template_path)
    tpl = reg_t["index_templates"][tpl_name]
    if "data_stream" not in tpl:
        raise ValueError(
            f"matching template {tpl_name!r} does not declare a "
            f"data_stream definition")
    ts_field = (tpl["data_stream"].get("timestamp_field", {})
                .get("name", "@timestamp"))
    reg = _load(ds_path)
    if name in reg:
        raise ValueError(f"data stream {name!r} already exists")
    first = backing_index_name(name, 1)
    entry = {"timestamp_field": ts_field, "template": tpl_name,
             "template_path": template_path,
             "pipelines_path": pipelines_path,
             "generation": 1, "indices": [first],
             "dirs": {first: os.path.join(base_dir, first)}}
    reg[name] = entry
    _save(ds_path, reg)
    return entry


def delete_data_stream(ds_path: str, name: str) -> None:
    reg = _load(ds_path)
    reg.pop(name, None)
    _save(ds_path, reg)


def _guard_timestamp(pages: DataFrame, ts_field: str, name: str) -> DataFrame:
    """The reference rejects any document without the stream's timestamp
    field. Columns are checked at plan time; null VALUES raise inside
    the indexing job itself (F.raise_error rides the same scan — no
    separate validation pass over the batch)."""
    if ts_field not in pages.columns:
        raise ValueError(
            f"data stream {name!r} requires timestamp field {ts_field!r} "
            f"in the batch (columns: {pages.columns})")
    c = F.col(ts_field)
    return pages.withColumn(
        ts_field,
        F.when(c.isNull(), F.raise_error(F.lit(
            f"data stream {name!r}: document missing required timestamp "
            f"field {ts_field!r}"))).otherwise(c))


def data_stream_write(spark: SparkSession, ds_path: str, name: str,
                      pages: DataFrame, **build_kw) -> dict:
    """Append a batch to the stream's WRITE index (the newest backing
    index): first batch of a generation builds the index, later batches
    add generations within it (the _bulk path).

    The matching template is MATERIALIZED on every write (the create-
    index path): its settings ``analysis`` block registers the index's
    analyzers — an analyzer named ``default`` becomes the build
    analyzer — and ``index.default_pipeline`` (resolved from the
    stream's stored-pipelines registry) runs over the batch BEFORE the
    timestamp guard, exactly as IngestService applies the default
    pipeline ahead of indexing."""
    from sparksearch import templates as T
    reg = _load(ds_path)
    entry = _entry(reg, name)
    tpl_path = entry.get("template_path")
    resolved = (T.materialize_index(tpl_path, name) if tpl_path
                else {"default_pipeline": None, "default_analyzer": None})
    if resolved["default_pipeline"]:
        pp = entry.get("pipelines_path")
        if not pp:
            raise ValueError(
                f"data stream {name!r}: template sets "
                f"index.default_pipeline="
                f"{resolved['default_pipeline']!r} but the stream was "
                f"created without a pipelines_path registry")
        from sparksearch.ingest import get_pipeline, run_pipeline
        body = get_pipeline(pp, resolved["default_pipeline"])
        pages = run_pipeline(pages, body, registry=pp)
    pages = _guard_timestamp(pages, entry["timestamp_field"], name)
    if resolved["default_analyzer"] and "analyzer" not in build_kw:
        # pin the template's 'default' analyzer under a STREAM-SCOPED
        # name: two streams whose templates both define 'default' must
        # not clobber each other in the global registry (the backing
        # index's meta.json analyzer_def then re-registers the scoped
        # name on reopen, and ensure_registered's skip-if-present makes
        # the analyzer immutable for the stream's lifetime — changing
        # the analyzer mid-stream would corrupt term semantics)
        from sparksearch.analysis_custom import ensure_registered, get_custom
        an = get_custom(resolved["default_analyzer"])
        scoped = f"ds.{name}.default"
        ensure_registered(scoped, an.definition)
        build_kw["analyzer"] = scoped
    write_ix = entry["indices"][-1]
    out_dir = entry["dirs"][write_ix]
    if os.path.exists(os.path.join(out_dir, "meta.json")):
        from sparksearch.merge import add_generation
        meta = add_generation(spark, out_dir, pages)
    else:
        from sparksearch.build import build_index
        meta = build_index(pages, out_dir, **build_kw)
    return {"write_index": write_ix, "n_docs": int(meta["n_docs"])}


def data_stream_rollover(ds_path: str, name: str) -> str:
    """DataStream.rollover: generation += 1; the new backing index
    becomes the write index; older ones stay searchable."""
    reg = _load(ds_path)
    entry = _entry(reg, name)
    entry["generation"] += 1
    nxt = backing_index_name(name, entry["generation"])
    entry["indices"].append(nxt)
    base = os.path.dirname(entry["dirs"][entry["indices"][0]])
    entry["dirs"][nxt] = os.path.join(base, nxt)
    _save(ds_path, reg)
    return nxt


def remove_backing_index(ds_path: str, name: str, backing: str) -> None:
    """DataStream.removeBackingIndex — the write index cannot be
    removed."""
    reg = _load(ds_path)
    entry = _entry(reg, name)
    if backing not in entry["indices"]:
        raise ValueError(f"{backing!r} is not a backing index of {name!r}")
    if backing == entry["indices"][-1]:
        raise ValueError(
            f"cannot remove the write index {backing!r} of data stream "
            f"{name!r}")
    entry["indices"].remove(backing)
    entry["dirs"].pop(backing, None)
    _save(ds_path, reg)


def data_stream_executors(spark: SparkSession, ds_path: str,
                          name: str) -> dict:
    """{backing index name: Executor} over every backing index that has
    committed data (an empty write index slot is skipped)."""
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    entry = _entry(_load(ds_path), name)
    out = {}
    for ix_name in entry["indices"]:
        d = entry["dirs"][ix_name]
        if os.path.exists(os.path.join(d, "meta.json")):
            out[ix_name] = Executor(IndexReader(spark, d))
    if not out:
        raise ValueError(f"data stream {name!r} has no indexed data yet")
    return out


def data_stream_search(spark: SparkSession, ds_path: str, name: str, q,
                       k: int = 10, search_fn=None,
                       indices_boost=None) -> DataFrame:
    """Search the whole stream: DFS-aggregated statistics across backing
    indices (multisearch.dfs_msearch_indices), so BM25 scores and ranks
    equal one unified index over the same documents. ``indices_boost``
    ([{backing-index-glob: factor}]) multiplies per-index scores before
    the merge (the request-body indices_boost feature — e.g. demote
    older generations)."""
    from sparksearch.multisearch import dfs_msearch_indices
    executors = data_stream_executors(spark, ds_path, name)
    return dfs_msearch_indices(executors, q, k=k, search_fn=search_fn,
                               indices_boost=indices_boost)


def data_stream_stats(ds_path: str, name: str) -> dict:
    """_data_stream/<name>/_stats analogue: generation, backing index
    count, per-backing doc counts from committed meta."""
    entry = _entry(_load(ds_path), name)
    per = {}
    for ix_name in entry["indices"]:
        d = entry["dirs"][ix_name]
        per[ix_name] = (int(read_meta(d)["n_docs"])
                        if os.path.exists(os.path.join(d, "meta.json"))
                        else 0)
    return {"generation": entry["generation"],
            "timestamp_field": entry["timestamp_field"],
            "backing_indices": len(entry["indices"]),
            "docs_per_index": per}
