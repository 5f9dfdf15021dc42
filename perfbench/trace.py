"""Spans around the engine's public functions, plus the Spark work under them.

A traced run patches each wrapped name where the engine looks it up (a
module attribute, or a method on a class), so calls made from inside the
engine are seen too: `merge.add_generation` calls `analyze_pages` through
`sparksearch.merge`'s own global, not through `sparksearch.build`.

Spark counts are attributed to spans by time, not by job group: job
groups do not follow the engine's driver-side thread pools
(`build.run_jobs`, the chunk pool in `build_segments`, the two-job pool in
`wand_topk`). The benchmark runs one client, so a job belongs to every
span whose interval contains its submission time. Spans stay in memory
until the run ends and writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import threading
import time

#: (module, attribute or Class.method, span name) for every wrapped name.
#: A function imported by name into another module is listed once per
#: module that calls it.
TARGETS = [
    ("sparksearch.exec", "Executor.search", "exec.search"),
    ("sparksearch.exec", "Executor.msearch", "exec.msearch"),
    ("sparksearch.index", "IndexReader.stats_for", "index.stats_for"),
    ("sparksearch.index", "IndexReader.postings_for", "index.postings_for"),
    ("sparksearch.wand", "wand_topk", "wand.wand_topk"),
    ("sparksearch.api", "run_search", "api.run_search"),
    ("sparksearch.exec", "analyze", "analysis.analyze"),
    ("sparksearch.wand", "analyze", "analysis.analyze"),
    ("sparksearch.build", "build_index", "build.build_index"),
    ("sparksearch.build", "analyze_pages", "build.analyze_pages"),
    ("sparksearch.merge", "analyze_pages", "build.analyze_pages"),
    ("sparksearch.build", "write_docs_postings", "build.write_docs_postings"),
    ("sparksearch.merge", "write_docs_postings", "build.write_docs_postings"),
    ("sparksearch.build", "write_stats", "build.write_stats"),
    ("sparksearch.merge", "write_stats", "build.write_stats"),
    ("sparksearch.deletes", "write_stats", "build.write_stats"),
    ("sparksearch.build", "write_meta", "build.write_meta"),
    ("sparksearch.merge", "write_meta", "build.write_meta"),
    ("sparksearch.deletes", "write_meta", "build.write_meta"),
    ("sparksearch.segments", "build_segments", "segments.build_segments"),
    ("sparksearch.merge", "build_segments", "segments.build_segments"),
    ("sparksearch.merge", "add_generation", "merge.add_generation"),
    ("sparksearch.merge", "ensure_segments", "merge.ensure_segments"),
    ("sparksearch.merge", "merge_segments", "merge.merge_segments"),
    ("sparksearch.deletes", "delete_by_query", "deletes.delete_by_query"),
]

#: spans that keep their call's return value: the segment metas that
#: report blocks and payload bytes
KEEP_RESULT = {"segments.build_segments", "merge.merge_segments"}

#: layers whose self time is reported, named after the engine modules
LAYERS = ["exec", "index", "wand", "api", "analysis", "build", "segments",
          "merge", "deletes"]


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "phase", "result")

    def __init__(self, sid, name, start, parent, phase):
        self.id, self.name, self.start = sid, name, start
        self.parent, self.phase = parent, phase
        self.end = None
        self.result = None

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "phase": self.phase}


class Tracer:
    """Spans of one run. Inside `active()` every TARGETS name opens a span;
    the benchmark opens its own around each query and each `collect()`.
    `phase` tags new spans "setup" or "loop"."""

    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            # a pool thread the engine started inside a span: its parent
            # is whatever the (single) client thread is inside right now
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[Span]):
        if stack:
            return stack[-1].id
        if self._main_stack:
            return self._main_stack[-1].id
        return None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        s = Span(next(self._ids), name, time.time(), self._parent(stack),
                 self.phase)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if name in KEEP_RESULT:
                    s.result = out
                return out
        return traced

    @contextlib.contextmanager
    def active(self):
        """Patch every TARGETS name for the duration of the block."""
        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(mod_name)
            cls_name, _, meth = attr.rpartition(".")
            if cls_name:
                owner = getattr(owner, cls_name)
            else:
                meth = attr
            orig = owner.__dict__[meth]
            self._patched.append((owner, meth, orig))
            setattr(owner, meth, self._wrap(orig, name))
        try:
            yield self
        finally:
            while self._patched:
                owner, meth, orig = self._patched.pop()
                setattr(owner, meth, orig)

    # -- reporting -----------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")

    def chosen(self, name: str) -> list[Span]:
        """Closed spans of `name` from the timed loop, or from set-up when
        the loop never called it (a full build runs only in set-up)."""
        done = [s for s in self.spans if s.name == name and s.end is not None]
        loop = [s for s in done if s.phase == "loop"]
        return loop or done

    def self_ms(self, layer: str) -> float:
        """Summed self time of the layer's spans: each span's duration
        minus the union of the intervals its child spans cover."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        names = {s.name for s in self.spans if s.name.split(".")[0] == layer}
        total = 0.0
        for name in names:
            for s in self.chosen(name):
                covered, cur_lo, cur_hi = 0.0, None, None
                for c in sorted((c for c in kids.get(s.id, [])
                                 if c.end is not None),
                                key=lambda c: c.start):
                    lo, hi = max(c.start, s.start), min(c.end, s.end)
                    if cur_hi is None or lo > cur_hi:
                        if cur_hi is not None:
                            covered += cur_hi - cur_lo
                        cur_lo, cur_hi = lo, hi
                    else:
                        cur_hi = max(cur_hi, hi)
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                total += (s.end - s.start - covered) * 1e3
        return total


class SparkWork:
    """Jobs and stages of the run, read once from the JVM status store."""

    def __init__(self, spark):
        from py4j.protocol import Py4JJavaError
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.jobs = []
        for j in conv.asJava(store.jobsList(None)):
            if not j.submissionTime().isDefined():
                continue
            sub = j.submissionTime().get().getTime() / 1e3
            end = (j.completionTime().get().getTime() / 1e3
                   if j.completionTime().isDefined() else sub)
            tasks = shuffle = run_ms = failed = 0
            for sid in conv.asJava(j.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the job skipped never ran
                    continue
                tasks += st.numCompleteTasks()
                failed += st.numFailedTasks()
                shuffle += st.shuffleWriteBytes()
                run_ms += st.executorRunTime()
            self.jobs.append({"submitted": sub, "ended": end,
                              "tasks": tasks, "failed_tasks": failed,
                              "shuffle_write_bytes": shuffle,
                              "executor_run_ms": run_ms})

    @staticmethod
    def submitted_in(job: dict, span: Span) -> bool:
        """Whether the job was submitted inside the span; the status store
        keeps whole milliseconds."""
        return (int(span.start * 1e3) <= job["submitted"] * 1e3
                <= int(span.end * 1e3) + 1)

    def within(self, spans) -> list[dict]:
        """Jobs submitted inside any of the spans."""
        return [j for j in self.jobs
                if any(self.submitted_in(j, s) for s in spans)]


def plan_scans(df) -> list[tuple[str, dict, dict | None]]:
    """(scanned path, scan metrics, metrics of the Filter directly above
    it or None) for every file scan in the executed plan of a collected
    DataFrame."""
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi \
        .CollectionConverters
    out = []

    def metrics(node) -> dict:
        ms = node.metrics()
        return {k: ms.apply(k).value() for k in conv.asJava(ms.keySet())}

    def walk(node, filt):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), filt)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), filt)
        if cls == "FileSourceScanExec":
            paths = conv.asJava(node.relation().location().rootPaths())
            out.append((" ".join(p.toString() for p in paths),
                        metrics(node), filt))
            return
        if cls == "FilterExec":
            filt = metrics(node)
        elif cls not in ("ColumnarToRowExec", "InputAdapter",
                         "WholeStageCodegenExec"):
            filt = None
        for c in conv.asJava(node.children()):
            walk(c, filt)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return out
