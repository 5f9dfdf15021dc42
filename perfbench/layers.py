"""Per-layer metrics of a traced run.

Rules, for every `<layer>.<function>.*` metric:
  - spans come from the timed loop, or from set-up when the loop never
    called the function (a full build runs only in set-up);
  - `.ms` and `.jobs` (and tasks, bytes, run time) are means per call;
    jobs, tasks and bytes are those submitted inside the call's span,
    from the JVM status store;
  - a metric of a function the workload never called reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import LAYERS


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(run, work) -> dict:
    """Every per-layer metric of BENCHMARK.json; `work` is the run's
    trace.SparkWork."""
    tr = run.tracer
    out: dict = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def spans(name):
        return tr.chosen(name)

    def ms(name):
        return _mean((s.end - s.start) * 1e3 for s in spans(name))

    def per_call(name, field=None):
        ss = spans(name)
        return _mean(
            (len(work.within([s])) if field is None
             else sum(j[field] for j in work.within([s])))
            for s in ss)

    # exec
    put("exec.search.plan_ms", ms("exec.search"), "ms")
    put("exec.search.plan_jobs", per_call("exec.search"), "count")
    put("exec.search.collect_ms", ms("exec.search.collect"), "ms")
    put("exec.search.collect_jobs", per_call("exec.search.collect"), "count")
    put("exec.msearch.jobs", per_call("bench.msearch"), "count")

    # index: calls per query operation, scan metrics per collected plan
    n_ops = len(spans("bench.msearch")) + sum(
        1 for s in tr.spans if s.name.startswith("bench.query.")
        and s.phase == "loop")
    put("index.stats_for.calls",
        len(spans("index.stats_for")) / max(1, n_ops), "count")
    put("index.postings_for.calls",
        len(spans("index.postings_for")) / max(1, n_ops), "count")
    put("index.scan_rows", _mean(sum(m.get("numOutputRows", 0)
                                     for _, m, _ in scans)
                                 for _, scans in run.scans), "count")
    put("index.scan_bytes", _mean(sum(m.get("filesSize", 0)
                                      for _, m, _ in scans)
                                  for _, scans in run.scans), "bytes")

    # wand: phase A is the work inside wand_topk before it returns; the
    # block counts read the segments scan and the filter above it
    put("wand.wand_topk.seed_ms", ms("wand.wand_topk"), "ms")
    put("wand.wand_topk.seed_jobs", per_call("wand.wand_topk"), "count")
    read = surv = 0
    n_wand = 0
    for kind, scans in run.scans:
        if kind != "wand":
            continue
        n_wand += 1
        for path, m, filt in scans:
            if "/segments" in path:
                read += m.get("numOutputRows", 0)
                surv += (filt or m).get("numOutputRows", 0)
    put("wand.blocks_read", read / max(1, n_wand), "count")
    put("wand.blocks_survived", surv / max(1, n_wand), "count")
    put("wand.block_survival_ratio", surv / read if read else 0.0, "ratio")

    # api
    put("api.run_search.ms", ms("api.run_search"), "ms")
    put("api.run_search.jobs", per_call("api.run_search"), "count")
    put("api.total_hits.ms", _mean(run.total_hits_ms),
        "ms")

    # analysis (query side)
    put("analysis.analyze.ms", ms("analysis.analyze"), "ms")

    # build
    put("build.analyze_pages.ms", ms("build.analyze_pages"), "ms")
    put("build.analyze_pages.jobs", per_call("build.analyze_pages"), "count")
    put("build.write_docs_postings.ms", ms("build.write_docs_postings"),
        "ms")
    put("build.write_stats.ms", ms("build.write_stats"), "ms")
    put("build.write_meta.ms", ms("build.write_meta"), "ms")
    put("build.build_index.jobs", per_call("build.build_index"), "count")
    put("build.build_index.tasks", per_call("build.build_index", "tasks"),
        "count")
    put("build.build_index.shuffle_write_bytes",
        per_call("build.build_index", "shuffle_write_bytes"), "bytes")
    put("build.build_index.executor_run_ms",
        per_call("build.build_index", "executor_run_ms"), "ms")

    # segments: block and byte counts from the generation meta returned
    seg = spans("segments.build_segments")
    put("segments.build_segments.ms", ms("segments.build_segments"), "ms")
    put("segments.build_segments.jobs", per_call("segments.build_segments"),
        "count")
    put("segments.build_segments.shuffle_write_bytes",
        per_call("segments.build_segments", "shuffle_write_bytes"), "bytes")
    put("segments.build_segments.blocks",
        _mean(sum(c["blocks"] for c in s.result["chunks"])
              for s in seg if s.result), "count")
    put("segments.build_segments.payload_bytes",
        _mean(s.result["payload_bytes"] for s in seg if s.result), "bytes")

    # merge
    put("merge.add_generation.ms", ms("merge.add_generation"), "ms")
    put("merge.add_generation.jobs", per_call("merge.add_generation"),
        "count")
    put("merge.ensure_segments.ms", ms("merge.ensure_segments"), "ms")
    put("merge.merge_segments.ms", ms("merge.merge_segments"), "ms")
    put("merge.merge_segments.payload_bytes",
        _mean(g["payload_bytes"]
              for s in spans("merge.merge_segments") if s.result
              for g in s.result.get("gens", {}).values()), "bytes")

    # deletes
    put("deletes.delete_by_query.ms", ms("deletes.delete_by_query"), "ms")
    put("deletes.delete_by_query.jobs", per_call("deletes.delete_by_query"),
        "count")

    # spark runtime, over the single-query operations of the loop
    queries = [s for s in tr.spans
               if s.name.startswith("bench.query.") and s.phase == "loop"]
    qjobs = work.within(queries)
    put("spark.jobs_per_query", len(qjobs) / max(1, len(queries)), "count")
    put("spark.ms_per_job",
        _mean((j["ended"] - j["submitted"]) * 1e3 for j in qjobs), "ms")
    put("spark.task_failures", sum(j["failed_tasks"] for j in work.jobs),
        "count")

    for layer in LAYERS:
        put(f"{layer}.self_ms", tr.self_ms(layer), "ms")
    plain, traced = run.latency["plain"], run.latency["traced"]
    put("trace.overhead_ms",
        (statistics.median(traced) - statistics.median(plain))
        if plain and traced else 0.0, "ms")
    return out


def layer_totals(run, work) -> dict:
    """Self time plus jobs, tasks and shuffle bytes per layer, each job
    counted once, in the innermost span open when it was submitted."""
    tr = run.tracer
    closed = [s for s in tr.spans
              if s.end is not None and s.name.split(".")[0] in LAYERS]
    totals = {}
    for j in work.jobs:
        inner = [s for s in closed if work.submitted_in(j, s)]
        if not inner:
            continue
        layer = max(inner, key=lambda s: s.start).name.split(".")[0]
        t = totals.setdefault(layer, {"jobs": 0, "tasks": 0,
                                      "shuffle_write_bytes": 0})
        t["jobs"] += 1
        t["tasks"] += j["tasks"]
        t["shuffle_write_bytes"] += j["shuffle_write_bytes"]
    for layer in LAYERS:
        totals.setdefault(layer, {"jobs": 0, "tasks": 0,
                                  "shuffle_write_bytes": 0})
        totals[layer]["self_ms"] = round(tr.self_ms(layer), 3)
    return totals


def write_trace(run, work, prefix: str) -> None:
    """`<prefix>-spans.jsonl` (every span) and `<prefix>-layers.json`."""
    os.makedirs(os.path.dirname(prefix), exist_ok=True)
    run.tracer.write(prefix + "-spans.jsonl")
    totals = layer_totals(run, work)
    with open(prefix + "-layers.json", "w") as f:
        json.dump(totals, f, indent=1, sort_keys=True)
    for layer, t in sorted(totals.items()):
        print(f"layer {layer:10s} self_ms={t['self_ms']:>10.1f} "
              f"jobs={t['jobs']:>5d} tasks={t['tasks']:>6d} "
              f"shuffle_write_bytes={t['shuffle_write_bytes']}")
    plain, traced = run.latency["plain"], run.latency["traced"]
    if plain and traced:
        print(f"tracing overhead: query p50 traced "
              f"{statistics.median(traced):.1f} ms - untraced "
              f"{statistics.median(plain):.1f} ms = "
              f"{statistics.median(traced) - statistics.median(plain):.1f}"
              f" ms")
