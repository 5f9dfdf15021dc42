"""Cross-index search: one query over many indices, merged top-k.

The reference resolves the request's index expression (names, commas,
`*` wildcards, aliases — sv/cluster/metadata/IndexNameExpressionResolver
.java) to a set of concrete indices, fans the query out, scores each
shard with ITS OWN statistics under the default QUERY_THEN_FETCH
(per-shard idf/avgdl — only DFS_QUERY_THEN_FETCH globalizes them), and
merges the per-shard top-k by score in the coordinating node's reduce
(sv/action/search/TransportSearchAction.java, SearchPhaseController).

Spark shape: each index contributes its own bounded top-k plan (each
already pruned/broadcast/TakeOrderedAndProject on its own index), the
union is k·|indices| rows, and the final merge is another
TakeOrderedAndProject over that tiny union — no cross-index shuffle of
anything but top-k rows. Ties across indices break by (_index, docid),
the analogue of the reference's shard-index tie-break.
"""

from __future__ import annotations

from fnmatch import fnmatch
from functools import reduce

from pyspark.sql import DataFrame, functions as F

__all__ = ["resolve_indices", "msearch_indices", "dfs_msearch_indices"]


def resolve_indices(executors: dict, expression: str) -> dict:
    """Index-expression resolution: comma-separated names and `*`
    wildcards against the registered index names."""
    pats = [p.strip() for p in expression.split(",") if p.strip()]
    out = {name: ex for name, ex in executors.items()
           if any(fnmatch(name, p) for p in pats)}
    if not out:
        raise ValueError(f"no indices match {expression!r}")
    return out


def _boost_of(name: str, indices_boost) -> float:
    """indices_boost resolution (SearchRequest.indicesBoost → the query
    phase multiplies every hit's score by the matching boost): entries
    are {index-or-glob: factor}; FIRST matching entry wins, like
    SearchService resolves the per-shard boost. Default 1.0."""
    if not indices_boost:
        return 1.0
    for entry in indices_boost:
        for pat, factor in entry.items():
            if fnmatch(name, pat):
                return float(factor)
    return 1.0


def msearch_indices(executors: dict, q, k: int = 10,
                    expression: str = "*", search_fn=None,
                    indices_boost=None) -> DataFrame:
    """Merged top-k over every matching index: (_index, docid, url,
    score), score desc then (_index, docid) asc. `search_fn(ex, q, k)`
    overrides the per-index search (e.g. a rounded-score variant).
    ``indices_boost`` ([{index-glob: factor}, ...]) multiplies each
    leg's scores BEFORE the cross-index merge — the request-body
    indices_boost feature."""
    chosen = resolve_indices(executors, expression)
    run = search_fn or (lambda ex, qq, kk: ex.search(qq, k=kk, fetch=True))
    legs = []
    for name, ex in sorted(chosen.items()):
        leg = run(ex, q, k)
        b = _boost_of(name, indices_boost)
        if b != 1.0:
            leg = leg.withColumn("score", F.col("score") * F.lit(b))
        legs.append(leg.withColumn("_index", F.lit(name)))
    union = reduce(DataFrame.unionByName, legs)
    return (union
            .orderBy(F.col("score").desc(), F.col("_index").asc(),
                     F.col("docid").asc())
            .limit(k)
            .select("_index", "docid", "url", "score"))


class _DfsReader:
    """IndexReader view scoring with AGGREGATED statistics: global
    n_docs/avgdl/total_tf and the per-term stats summed across indices
    (df, cf; max of max_tf, min of min_dlq) replace the index's own,
    everything else delegates to the wrapped reader. This is the
    AggregatedDfs the coordinator re-sends with the query phase
    (sv/action/search/DfsQueryPhase.java)."""

    def __init__(self, ix, n_docs: int, avgdl: float, total_tf: int,
                 stats: dict):
        self._ix = ix
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.meta = {**ix.meta, "n_docs": n_docs, "avgdl": avgdl,
                     "total_tf": total_tf}
        self._stats = stats

    def __getattr__(self, name):
        return getattr(object.__getattribute__(self, "_ix"), name)

    def stats_for(self, terms):
        return {t: self._stats[t] for t in set(terms) if t in self._stats}


def _sum_stats(a: tuple, b: tuple) -> tuple:
    """Two indices' (df, cf, max_tf, min_dlq) for one term, combined."""
    return (a[0] + b[0], a[1] + b[1], max(a[2], b[2]), min(a[3], b[3]))


def dfs_msearch_indices(executors: dict, q, k: int = 10,
                        expression: str = "*",
                        search_fn=None, indices_boost=None) -> DataFrame:
    """DFS_QUERY_THEN_FETCH across indices: a DFS phase collects every
    index's exact per-term df/cf and collection statistics
    (sv/search/dfs/DfsPhase.java:57-104), the coordinator sums them
    (SearchPhaseController.aggregateDfs, SearchPhaseController.java:
    106-122), and the query phase re-runs with the GLOBAL idf/avgdl so
    scores are comparable across indices. The DFS round-trip is a
    bounded |terms|·|indices| driver collect; the per-index query plans
    are unchanged except for the injected statistics."""
    from sparksearch.analysis import analyze
    from sparksearch.exec import Executor
    from sparksearch.queries import Match
    if not isinstance(q, Match):
        raise TypeError("dfs_msearch_indices supports match queries "
                        "(term statistics are what DFS aggregates)")
    chosen = resolve_indices(executors, expression)
    stats: dict = {}
    n_total, sum_dl, ttf = 0, 0.0, 0
    for name, ex in sorted(chosen.items()):
        terms = sorted({t for t, _ in
                        analyze(q.text, q.analyzer or ex.ix.search_analyzer)})
        for t, v in ex.ix.stats_for(terms).items():
            stats[t] = v if t not in stats else _sum_stats(stats[t], v)
        n_total += ex.ix.n_docs
        sum_dl += ex.ix.avgdl * ex.ix.n_docs
        ttf += int(ex.ix.meta.get("total_tf", 0))
    avgdl = sum_dl / n_total if n_total else 0.0
    run = search_fn or (lambda gx, qq, kk: gx.search(qq, k=kk, fetch=True,
                                                     mode="plan"))
    legs = []
    for name, ex in sorted(chosen.items()):
        gx = Executor(_DfsReader(ex.ix, n_total, avgdl, ttf, stats),
                      fixed_now=ex.fixed_now)
        leg = run(gx, q, k)
        b = _boost_of(name, indices_boost)
        if b != 1.0:
            leg = leg.withColumn("score", F.col("score") * F.lit(b))
        legs.append(leg.withColumn("_index", F.lit(name)))
    union = reduce(DataFrame.unionByName, legs)
    return (union
            .orderBy(F.col("score").desc(), F.col("_index").asc(),
                     F.col("docid").asc())
            .limit(k)
            .select("_index", "docid", "url", "score"))
