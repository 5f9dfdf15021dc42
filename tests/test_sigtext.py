"""significant_text agg: source re-analysis, analyzer override,
filter_duplicate_text."""

from sparksearch.queries import Match


def _pages(spark):
    from sparksearch.corpus import pages_from_documents
    return pages_from_documents(spark, "/root/testdata/sf0.001")


def test_significant_text_matches_significant_terms_on_standard(
        spark, index_sf0001):
    """With the index analyzer and no dedup, re-analysis must reproduce
    the postings-derived significant_terms exactly (same corpus, same
    tokenization)."""
    from sparksearch.aggs import significant_terms, significant_text
    from sparksearch.exec import Executor
    ex = Executor(index_sf0001)
    a = significant_terms(ex, Match("text", "scan"), size=5,
                          min_doc_count=2).collect()
    b = significant_text(ex, _pages(spark), Match("text", "scan"),
                         size=5, min_doc_count=2).collect()
    assert [(r.term, r.fg, r.bg, r.jlh) for r in a] == \
        [(r.term, r.fg, r.bg, r.jlh) for r in b]


def test_significant_text_filter_duplicate_text(spark, index_sf0001):
    """Exact-duplicate foreground sources are counted once; fg counts
    can only shrink and never grow."""
    from sparksearch.aggs import significant_text
    from sparksearch.exec import Executor
    ex = Executor(index_sf0001)
    raw = {r.term: r.fg for r in significant_text(
        ex, _pages(spark), Match("text", "scan"), size=50,
        min_doc_count=1).collect()}
    dd = {r.term: r.fg for r in significant_text(
        ex, _pages(spark), Match("text", "scan"), size=50,
        min_doc_count=1, filter_duplicate_text=True).collect()}
    assert dd  # still produces terms
    for t, n in dd.items():
        assert n <= raw.get(t, 0)


def test_significant_text_analyzer_override_and_sample(spark,
                                                       index_sf0001):
    """english analyzer override stems the re-analyzed terms; sampling
    caps the foreground at the top-N scored hits."""
    from sparksearch.aggs import significant_text
    from sparksearch.exec import Executor
    ex = Executor(index_sf0001)
    r = significant_text(ex, _pages(spark), Match("text", "scan"),
                         size=20, min_doc_count=1, analyzer="english",
                         sample_size=5).collect()
    # fg can never exceed the 5-doc sample
    assert r and all(x.fg <= 5 for x in r)
    # english analyzer drops stopwords: none may appear as a bucket
    assert all(x.term not in ("the", "a", "of") for x in r)


def test_significance_heuristics_families(spark, index_sf0001):
    """chi_square/mutual_information exclude subset-rarer terms unless
    include_negatives; gnd is bounded in (0,1]; percentage = fg/bg."""
    from sparksearch.aggs import significant_terms
    from sparksearch.exec import Executor
    ex = Executor(index_sf0001)
    q = Match("text", "scan")
    chi = significant_terms(ex, q, size=50, min_doc_count=1,
                            heuristic="chi_square").collect()
    assert chi and all(r.score >= 0 for r in chi)
    # with include_negatives, subset-rarer terms come back (more rows
    # survive the -inf filter)
    chi_neg = significant_terms(ex, q, size=50, min_doc_count=1,
                                heuristic="chi_square",
                                include_negatives=True).collect()
    assert len(chi_neg) >= len(chi)
    gnd = significant_terms(ex, q, size=50, min_doc_count=1,
                            heuristic="gnd").collect()
    assert all(0.0 <= r.score <= 1.0 for r in gnd)
    pct = {r.term: r for r in significant_terms(
        ex, q, size=50, min_doc_count=1,
        heuristic="percentage").collect()}
    # 'scan' itself: every fg doc contains it -> fg == bg slice of it
    assert pct["scan"].score == round(pct["scan"].fg / pct["scan"].bg, 6)
    mi = significant_terms(ex, q, size=10, min_doc_count=1,
                           heuristic="mutual_information").collect()
    assert mi and all(r.score == r.score for r in mi)  # no NaN survives


def test_jlh_zero_when_subset_not_commoner(spark):
    """JLHScore.getScore returns 0 unless the term is commoner in the
    foreground than in the background; it never goes negative."""
    from pyspark.sql import functions as F
    from sparksearch.aggs import significance_score
    df = spark.createDataFrame([(1, 50), (5, 50), (2, 10)],
                               "fg long, bg long")
    got = [r.s for r in df.select(significance_score(
        F.col("fg"), 10, F.col("bg"), 100, "jlh").alias("s")).collect()]
    assert got[0] == 0.0 and got[1] == 0.0
    assert got[2] == (0.2 - 0.1) * (0.2 / 0.1)
