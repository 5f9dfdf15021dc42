"""Correctness gates. An operation that fails one counts into `failed`."""

from __future__ import annotations

import json

#: scores are compared at the contract's 4-decimal rounding; one unit of
#: the last decimal absorbs a half-up vs half-even rounding difference
TOL = 1.0001e-4


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    """True when two top-k lists of (docid, score) agree: the same length,
    the same score at every rank, and every doc scoring clearly above the
    k-th score on one side is in the other side's list. Docs tied with
    the k-th score (within rounding) may differ: either side may pick any
    of them."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > TOL for g, w in zip(got, want)):
        return False
    if not got:
        return True
    band = min(s for _, s in want) + 2 * TOL
    got_ids, want_ids = {d for d, _ in got}, {d for d, _ in want}
    return ({d for d, s in want if s > band} <= got_ids
            and {d for d, s in got if s > band} <= want_ids)


def segments_match_stats(spark, index_dir: str) -> bool:
    """The postings the segments manifest records equal Σdf in the stats
    table the index commits (deletes are tombstones: neither changes)."""
    from pyspark.sql import functions as F
    with open(f"{index_dir}/meta.json") as f:
        stats_path = json.load(f)["stats_path"]
    with open(f"{index_dir}/segments_meta.json") as f:
        seg = json.load(f)
    postings = sum(seg["gens"][str(g)]["postings"]
                   for g in seg["generations"])
    sum_df = (spark.read.parquet(f"{index_dir}/{stats_path}")
              .agg(F.sum("df")).first()[0])
    return postings == sum_df
