"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_sf01 --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics, and the spans and per-layer totals are written
under .perfbench_work/out/. The lines before it print every end-to-end
metric by name with its unit, including those BENCHMARK.json cannot
declare (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile that has at least
    ten samples beyond it; None with ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n, n


def gmean_of_medians(by_op: dict[str, list[float]]) -> float:
    """Geometric mean, over the loop's operation names, of each one's
    median: every operation of the mix weighs the same however few
    samples it has, so a run needs only one round."""
    medians = [statistics.median(xs) for xs in by_op.values()]
    return statistics.geometric_mean(medians) if medians else 0.0


def end_to_end(run) -> dict:
    """The metrics BENCHMARK.json declares: those every workload has."""
    f = run.figures
    return {
        "setup_s": (f["setup_s"], "s"),
        "op_cpu_gmean_ms": (gmean_of_medians(run.loop_cpu_ms), "ms"),
        "build_cpu_ms_per_doc": (f["build_cpu_ms_per_doc"], "ms"),
        "index_bytes_per_text_byte": (f["index_bytes_per_text_byte"],
                                      "ratio"),
        "peak_rss_mb": (f["peak_rss_mb"], "MB"),
    }


def print_summary(run, workload: str) -> None:
    """Every end-to-end metric of perfbench/README.md, by name and unit,
    then each loop operation's median time."""
    f = run.figures
    e2e = end_to_end(run)
    lines = [(k, v, u, "") for k, (v, u) in e2e.items()]
    lines.append(("op_gmean_ms", gmean_of_medians(run.loop_ms), "ms", ""))
    lines.append(("build_docs_per_s", f["build_docs_per_s"], "1/s", ""))
    plain = run.latency["plain"]
    lines.append(("query_p50_ms", statistics.median(plain) if plain else None,
                  "ms", f"n={len(plain)}"))
    lines.append(("msearch_qps",
                  run.msearch_queries / run.msearch_secs
                  if run.msearch_secs else None, "1/s",
                  "" if run.msearch_secs else f"n/a on {workload}"))
    t = tail(run.latency["plain"])
    lines.append(("query_tail_ms", t[0], "ms", f"p{t[1]:.0f} of n={t[2]}")
                 if t else ("query_tail_ms", None, "ms",
                            f"n/a: n={len(run.latency['plain'])} <= 10"))
    for name, unit in (("ingest_docs_per_s", "1/s"), ("merge_s", "s")):
        lines.append((name, f.get(name), unit,
                      "" if name in f else f"n/a on {workload}"))
    lines.append(("failed_ratio", run.failed / max(1, run.attempted),
                  "ratio", f"{run.failed}/{run.attempted}"))
    for name, value, unit, note in lines:
        shown = "-" if value is None else f"{value:.6g}"
        print(f"{name:28s} {shown:>14s} {unit:6s} {note}")
    print(f"rounds {run.rounds}")
    for name, xs in sorted(run.loop_ms.items()):
        print(f"  op    {name:20s} p50 {statistics.median(xs):9.1f} ms "
              f"cpu {statistics.median(run.loop_cpu_ms[name]):9.1f} ms "
              f"n={len(xs)}")
    print(f"  setup build              {run.op_secs['build'][0]:9.3f} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparksearch", "__init__.py")):
        print("perfbench: no sparksearch package beside perfbench/ — run "
              "from the root of a sparksearch checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import layer_metrics, write_trace
    from perfbench.session import WORK, fresh_workdir, stop_spark
    from perfbench.trace import SparkWork
    from perfbench.workloads import WORKLOADS, Run
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = fresh_workdir(name)
    run = Run(work, args.seconds, traced=bool(args.trace))
    try:
        WORKLOADS[args.workload](run, args.seed)
        if args.trace:
            work_done = SparkWork(run.spark)
            metrics = layer_metrics(run, work_done)
            write_trace(run, work_done, os.path.join(WORK, "out", name))
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    print_summary(run, args.workload)
    if not args.trace:
        metrics = end_to_end(run)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
