"""Round-3 contract entries: analysis-common filter batch
(word_delimiter_graph, normalization family, stemming control, token
management — reference registry ``CommonAnalysisModulePlugin.java:249-330``).

Each entry runs probe strings through the REAL executor Arrow-UDF
analyze path (``tokenize_udf``) with a custom analyzer chain and is
gated against hand-derived golden token streams embedded in the oracle
as a VALUES table — the goldens were written from the documented Lucene
filter semantics, not computed by this engine, so the gate is
independent of the implementation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from sparksearch.contract_round3b import _sql_goldens


def _q_filter_goldens(an_name: str, settings: dict, probes, doc: str):
    def run(spark, sf_dir):
        from sparksearch.analysis_custom import (get_custom,
                                                 register_analyzer)
        from sparksearch.build import tokenize_udf
        if get_custom(an_name) is None:
            register_analyzer(an_name, settings)
        outs = []
        for pid, text in probes:
            df = spark.createDataFrame([(text,)], "text string")
            tok = df.withColumn("_t", tokenize_udf(an_name)(F.col("text")))
            outs.append(tok.select(
                F.lit(pid).alias("probe"),
                F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
                .select("probe", F.col("tp.terms").alias("term"),
                        F.col("tp.poss").cast("int").alias("pos")))
        return (reduce(lambda a, b: a.unionAll(b), outs)
                .orderBy("probe", "pos", "term"))
    run.__name__ = f"q_{an_name}"
    run.__doc__ = doc
    return run


# ---------------------------------------------------------------------------
# probes + hand-derived goldens
# ---------------------------------------------------------------------------

_WD_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "word_delimiter_graph"}, "lowercase"]}
_WD_PROBES = [(0, "Wi-Fi PowerShot500"),
              (1, "XMLHttpRequest O'Neil's"),
              (2, "j2se SD500-II")]
#: WordDelimiterGraphFilter defaults: split on delimiters / case change
#: (with SD|Card acronym handling) / numerics, strip possessive.
_WD_GOLDENS = [
    (0, "wi", 0), (0, "fi", 1), (0, "power", 2), (0, "shot", 3),
    (0, "500", 4),
    (1, "xml", 0), (1, "http", 1), (1, "request", 2), (1, "o", 3),
    (1, "neil", 4),
    (2, "j", 0), (2, "2", 1), (2, "se", 2), (2, "sd", 3), (2, "500", 4),
    (2, "ii", 5),
]

_WDC_SETTINGS = {"tokenizer": "whitespace",
                 "filter": [{"type": "word_delimiter_graph",
                             "catenate_words": True,
                             "catenate_numbers": True,
                             "preserve_original": True}, "lowercase"]}
_WDC_PROBES = [(0, "wi-fi 500-42")]
#: original + catenation stack at the first part's position
_WDC_GOLDENS = [
    (0, "wi-fi", 0), (0, "wi", 0), (0, "wifi", 0), (0, "fi", 1),
    (0, "500-42", 2), (0, "500", 2), (0, "50042", 2), (0, "42", 3),
]

_EL_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "elision",
                            "articles": ["l", "d", "qu", "j"]},
                           "lowercase"]}
_EL_PROBES = [(0, "L'avion d'été qu'il j'adore tel'x")]
#: only listed articles elide; "tel" is not an article
_EL_GOLDENS = [(0, "avion", 0), (0, "été", 1), (0, "il", 2),
               (0, "adore", 3), (0, "tel'x", 4)]

_CW_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["cjk_width", "decimal_digit", "lowercase"]}
_CW_PROBES = [(0, "Ｔｅｓｔ１２３"), (1, "ｶﾀｶﾅ ﾊﾟﾝ"), (2, "١٢٣ ４２")]
#: fullwidth ASCII folds to halfwidth, halfwidth katakana to fullwidth
#: (with handakuten composition), Arabic-Indic digits to 0-9
_CW_GOLDENS = [(0, "test123", 0),
               (1, "カタカナ", 0), (1, "パン", 1),
               (2, "123", 0), (2, "42", 1)]

_DE_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase", "german_normalization"]}
_DE_PROBES = [(0, "Häuser über Quelle ueber Fußball schön")]
#: umlauts fold; the 'e' of a ue digraph after u drops (ueber->uber) but
#: not after q (quelle)
_DE_GOLDENS = [(0, "hauser", 0), (0, "uber", 1), (0, "quelle", 2),
               (0, "uber", 3), (0, "fussball", 4), (0, "schon", 5)]

_SC_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase", "scandinavian_folding"]}
_SC_PROBES = [(0, "Räksmörgås blåbær aeble")]
_SC_GOLDENS = [(0, "raksmorgas", 0), (0, "blabar", 1), (0, "able", 2)]

_CA_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["classic", "apostrophe", "lowercase"]}
_CA_PROBES = [(0, "i.b.m. John's Türkiye'nin U.S.A.")]
#: classic strips acronym dots + possessive 's; apostrophe truncates the
#: Turkish suffix
_CA_GOLDENS = [(0, "ibm", 0), (0, "john", 1), (0, "türkiye", 2),
               (0, "usa", 3)]

_KC_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase",
                           {"type": "stemmer_override",
                            "rules": ["mice => mouse"]},
                           {"type": "keyword_marker",
                            "keywords": ["running"]},
                           {"type": "stemmer", "language": "english"}]}
_KC_PROBES = [(0, "Running mice jumping tables")]
#: marker and override outputs are protected from the stemmer
_KC_GOLDENS = [(0, "running", 0), (0, "mouse", 1), (0, "jump", 2),
               (0, "tabl", 3)]

_KR_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase", "keyword_repeat",
                           {"type": "stemmer", "language": "english"},
                           "remove_duplicates"]}
_KR_PROBES = [(0, "running dogs fix")]
#: original + stem stacked; identical pairs deduplicated
_KR_GOLDENS = [(0, "running", 0), (0, "run", 0),
               (0, "dogs", 1), (0, "dog", 1), (0, "fix", 2)]

_KL_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "keep_types", "types": ["<NUM>"],
                            "mode": "exclude"},
                           {"type": "limit", "max_token_count": 3}]}
_KL_PROBES = [(0, "alpha 42 beta gamma delta 7")]
#: numbers dropped by type, then the first three positions kept
_KL_GOLDENS = [(0, "alpha", 0), (0, "beta", 2), (0, "gamma", 3)]

_CG_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase",
                           {"type": "common_grams",
                            "common_words": ["the", "of"]}]}
_CG_PROBES = [(0, "The history of the world")]
#: a bigram is emitted for every adjacent pair touching a common word,
#: stacked at the first member's position (CommonGramsFilter)
_CG_GOLDENS = [
    (0, "the", 0), (0, "the_history", 0),
    (0, "history", 1), (0, "history_of", 1),
    (0, "of", 2), (0, "of_the", 2),
    (0, "the", 3), (0, "the_world", 3),
    (0, "world", 4),
]

_MX_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "multiplexer",
                            "filters": ["lowercase", "porter_stem"]}]}
_MX_PROBES = [(0, "jumped tables")]
#: original preserved, each branch's distinct output stacked
_MX_GOLDENS = [(0, "jumped", 0), (0, "jump", 0),
               (0, "tables", 1), (0, "tabl", 1)]

_FP_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase",
                           {"type": "pattern_capture",
                            "patterns": [r"([a-z]+)(\d+)"]},
                           "fingerprint"]}
_FP_PROBES = [(0, "abc123 zebra abc123")]
#: captures stack, then fingerprint sorts + dedupes + joins into one
#: token at position 0
_FP_GOLDENS = [(0, "123 abc abc123 zebra", 0)]


# ---------------------------------------------------------------------------
# filters_ext: decompounders, scripted filters, phonetic
# ---------------------------------------------------------------------------

_DD_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase",
                           {"type": "dictionary_decompounder",
                            "word_list": ["dampf", "schiff", "fahrt"]}]}
_DD_PROBES = [(0, "Dampfschifffahrt ahoi")]
#: subwords stack at the compound's position, original first
_DD_GOLDENS = [(0, "dampfschifffahrt", 0), (0, "dampf", 0),
               (0, "schiff", 0), (0, "fahrt", 0), (0, "ahoi", 1)]

_HD_SETTINGS = {"tokenizer": "whitespace",
                "filter": ["lowercase",
                           {"type": "hyphenation_decompounder",
                            "word_list": ["wirtschaft", "wunder"]}]}
#: full-partition compounds split; non-partitioning tokens untouched
#: (wunderx has no clean dictionary cover)
_HD_PROBES = [(0, "wirtschaftwunder wunderx")]
_HD_GOLDENS = [(0, "wirtschaftwunder", 0), (0, "wirtschaft", 0),
               (0, "wunder", 0), (0, "wunderx", 1)]

_COND_SETTINGS = {"tokenizer": "whitespace",
                  "filter": [{"type": "condition",
                              "filter": ["lowercase"],
                              "script": {"source":
                                         "token.term.length() < 5"}}]}
_COND_PROBES = [(0, "Hello BIG World AB")]
_COND_GOLDENS = [(0, "Hello", 0), (0, "big", 1), (0, "World", 2),
                 (0, "ab", 3)]

_PRED_SETTINGS = {"tokenizer": "whitespace",
                  "filter": ["lowercase",
                             {"type": "predicate_token_filter",
                              "script": {"source":
                                         "token.term.length() >= 4"}}]}
_PRED_PROBES = [(0, "ab abcd the quick fox jumps")]
_PRED_GOLDENS = [(0, "abcd", 1), (0, "quick", 3), (0, "jumps", 5)]

_SDX_SETTINGS = {"tokenizer": "whitespace",
                 "filter": [{"type": "phonetic", "encoder": "soundex"}]}
_SDX_PROBES = [(0, "Robert Rupert Ashcraft Tymczak Pfister")]
#: commons-codec Soundex vectors (H/W transparency, vowel run breaks)
_SDX_GOLDENS = [(0, "R163", 0), (0, "R163", 1), (0, "A261", 2),
                (0, "T522", 3), (0, "P236", 4)]

_DP_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "delimited_payload",
                            "delimiter": "|"}, "flatten_graph"]}
_DP_PROBES = [(0, "the|0 quick|5 fox")]
_DP_GOLDENS = [(0, "the", 0), (0, "quick", 1), (0, "fox", 2)]


# ---------------------------------------------------------------------------
# extended tokenizer registry (tokenizers_ext.py)
# ---------------------------------------------------------------------------

_NG_SETTINGS = {"tokenizer": {"type": "ngram", "min_gram": 2,
                              "max_gram": 3,
                              "token_chars": ["letter", "digit"]}}
_NG_PROBES = [(0, "ab cd3!x"), (1, "abc")]
#: offset-major then gram-length order per run (NGramTokenizer)
_NG_GOLDENS = [(0, "ab", 0), (0, "cd", 1), (0, "cd3", 2), (0, "d3", 3),
               (1, "ab", 0), (1, "abc", 1), (1, "bc", 2)]

_EG_SETTINGS = {"tokenizer": {"type": "edge_ngram", "min_gram": 1,
                              "max_gram": 3, "token_chars": ["letter"]},
                "filter": ["lowercase"]}
_EG_PROBES = [(0, "Quick Fox")]
_EG_GOLDENS = [(0, "q", 0), (0, "qu", 1), (0, "qui", 2),
               (0, "f", 3), (0, "fo", 4), (0, "fox", 5)]

_PH_SETTINGS = {"tokenizer": "path_hierarchy"}
_PH_PROBES = [(0, "/usr/local/bin"), (1, "a/b")]
#: every prefix stacked at position 0 (PathHierarchyTokenizer posInc)
_PH_GOLDENS = [(0, "/usr", 0), (0, "/usr/local", 0),
               (0, "/usr/local/bin", 0),
               (1, "a", 0), (1, "a/b", 0)]

_CGT_SETTINGS = {"tokenizer": {"type": "char_group",
                               "tokenize_on_chars": ["whitespace", "-",
                                                     "digit"]},
                 "filter": ["lowercase"]}
_CGT_PROBES = [(0, "The QUICK-brown 42fox")]
_CGT_GOLDENS = [(0, "the", 0), (0, "quick", 1), (0, "brown", 2),
                (0, "fox", 3)]

_UX_SETTINGS = {"tokenizer": "uax_url_email", "filter": ["lowercase"]}
_UX_PROBES = [(0, "Visit https://Example.com/a?b=1 or mail Bob@ex.co.uk")]
#: URL/email spans survive as single tokens (UAX29URLEmailTokenizer)
_UX_GOLDENS = [(0, "visit", 0), (0, "https://example.com/a?b=1", 1),
               (0, "or", 2), (0, "mail", 3), (0, "bob@ex.co.uk", 4)]

_CLT_SETTINGS = {"tokenizer": "classic",
                 "filter": ["classic", "lowercase"]}
_CLT_PROBES = [(0, "I.B.M. AT&T O'Neil's www.foo.bar 12.3")]
#: classic tokenizer grammar + classic filter acronym/possessive strip
_CLT_GOLDENS = [(0, "ibm", 0), (0, "at&t", 1), (0, "o'neil", 2),
                (0, "www.foo.bar", 3), (0, "12.3", 4)]

_SP_SETTINGS = {"tokenizer": {"type": "simple_pattern",
                              "pattern": "[0-9]{3}"}}
_SP_PROBES = [(0, "fd-786-335-514-x")]
_SP_GOLDENS = [(0, "786", 0), (0, "335", 1), (0, "514", 2)]

_SPS_SETTINGS = {"tokenizer": {"type": "simple_pattern_split",
                               "pattern": "_+"}}
_SPS_PROBES = [(0, "an_underscored__phrase")]
_SPS_GOLDENS = [(0, "an", 0), (0, "underscored", 1), (0, "phrase", 2)]


_CASES = {
    "tf_dict_decompound": (_DD_SETTINGS, _DD_PROBES, _DD_GOLDENS,
                           "dictionary_decompounder subword stacking "
                           "(DictionaryCompoundWordTokenFilter)."),
    "tf_hyph_decompound": (_HD_SETTINGS, _HD_PROBES, _HD_GOLDENS,
                           "hyphenation_decompounder full-partition "
                           "split (HyphenationCompoundWordTokenFilter; "
                           "greedy dictionary cover, documented)."),
    "tf_condition": (_COND_SETTINGS, _COND_PROBES, _COND_GOLDENS,
                     "condition scripted filter wrapping lowercase "
                     "(ScriptedConditionTokenFilter)."),
    "tf_predicate": (_PRED_SETTINGS, _PRED_PROBES, _PRED_GOLDENS,
                     "predicate_token_filter keep-matching "
                     "(PredicateTokenFilterScriptFactory)."),
    "tf_soundex": (_SDX_SETTINGS, _SDX_PROBES, _SDX_GOLDENS,
                   "phonetic soundex encoder vectors "
                   "(analysis-phonetic PhoneticTokenFilterFactory)."),
    "tf_delimited_payload": (_DP_SETTINGS, _DP_PROBES, _DP_GOLDENS,
                             "delimited_payload term extraction + "
                             "flatten_graph identity "
                             "(DelimitedPayloadTokenFilterFactory)."),
    "tk_ngram": (_NG_SETTINGS, _NG_PROBES, _NG_GOLDENS,
                 "ngram tokenizer offset-major gram order + token_chars "
                 "runs (NGramTokenizerFactory.java)."),
    "tk_edge_ngram": (_EG_SETTINGS, _EG_PROBES, _EG_GOLDENS,
                      "edge_ngram tokenizer per-run prefixes "
                      "(EdgeNGramTokenizerFactory.java)."),
    "tk_path_hierarchy": (_PH_SETTINGS, _PH_PROBES, _PH_GOLDENS,
                          "path_hierarchy prefix stack at position 0 "
                          "(PathHierarchyTokenizerFactory.java)."),
    "tk_char_group": (_CGT_SETTINGS, _CGT_PROBES, _CGT_GOLDENS,
                      "char_group split on chars + classes "
                      "(CharGroupTokenizerFactory.java)."),
    "tk_uax_url_email": (_UX_SETTINGS, _UX_PROBES, _UX_GOLDENS,
                         "uax_url_email keeps URL/email spans whole "
                         "(UAX29URLEmailTokenizer)."),
    "tk_classic": (_CLT_SETTINGS, _CLT_PROBES, _CLT_GOLDENS,
                   "classic tokenizer grammar + classic filter "
                   "(ClassicTokenizer, ClassicFilterFactory)."),
    "tk_simple_pattern": (_SP_SETTINGS, _SP_PROBES, _SP_GOLDENS,
                          "simple_pattern emits matches "
                          "(SimplePatternTokenizerFactory.java)."),
    "tk_simple_pattern_split": (_SPS_SETTINGS, _SPS_PROBES, _SPS_GOLDENS,
                                "simple_pattern_split splits on matches "
                                "(SimplePatternSplitTokenizerFactory"
                                ".java)."),
    "tf_word_delimiter": (_WD_SETTINGS, _WD_PROBES, _WD_GOLDENS,
                          "word_delimiter_graph defaults through the "
                          "Arrow-UDF path vs hand-derived goldens "
                          "(WordDelimiterGraphTokenFilterFactory.java:"
                          "68-110)."),
    "tf_word_delimiter_cat": (_WDC_SETTINGS, _WDC_PROBES, _WDC_GOLDENS,
                              "word_delimiter_graph catenate_words/"
                              "numbers + preserve_original stacking."),
    "tf_elision": (_EL_SETTINGS, _EL_PROBES, _EL_GOLDENS,
                   "elision filter (ElisionTokenFilterFactory.java)."),
    "tf_cjk_width": (_CW_SETTINGS, _CW_PROBES, _CW_GOLDENS,
                     "cjk_width + decimal_digit normalization "
                     "(CJKWidthFilterFactory, DecimalDigitFilterFactory)."),
    "tf_norm_german": (_DE_SETTINGS, _DE_PROBES, _DE_GOLDENS,
                       "german_normalization state machine "
                       "(GermanNormalizationFilterFactory)."),
    "tf_scandinavian": (_SC_SETTINGS, _SC_PROBES, _SC_GOLDENS,
                        "scandinavian_folding "
                        "(ScandinavianFoldingFilterFactory)."),
    "tf_classic_apostrophe": (_CA_SETTINGS, _CA_PROBES, _CA_GOLDENS,
                              "classic + apostrophe filters "
                              "(ClassicFilterFactory, "
                              "ApostropheFilterFactory)."),
    "tf_keyword_control": (_KC_SETTINGS, _KC_PROBES, _KC_GOLDENS,
                           "stemmer_override + keyword_marker protecting "
                           "the english stemmer (KeywordMarkerToken"
                           "FilterFactory, StemmerOverrideTokenFilter"
                           "Factory)."),
    "tf_keyword_repeat": (_KR_SETTINGS, _KR_PROBES, _KR_GOLDENS,
                          "keyword_repeat + stemmer + remove_duplicates "
                          "index-both pattern (KeywordRepeatFilter, "
                          "RemoveDuplicatesTokenFilterFactory)."),
    "tf_keep_limit": (_KL_SETTINGS, _KL_PROBES, _KL_GOLDENS,
                      "keep_types exclude <NUM> + limit max_token_count "
                      "(KeepTypesFilterFactory, LimitTokenCount"
                      "FilterFactory)."),
    "tf_common_grams": (_CG_SETTINGS, _CG_PROBES, _CG_GOLDENS,
                        "common_grams bigrams stacked at the first "
                        "member (CommonGramsTokenFilterFactory)."),
    "tf_multiplexer": (_MX_SETTINGS, _MX_PROBES, _MX_GOLDENS,
                       "multiplexer branch stacking "
                       "(MultiplexerTokenFilterFactory)."),
    "tf_fingerprint": (_FP_SETTINGS, _FP_PROBES, _FP_GOLDENS,
                       "pattern_capture + fingerprint collapse "
                       "(PatternCaptureGroupTokenFilterFactory, "
                       "FingerprintTokenFilterFactory)."),
}


# ---------------------------------------------------------------------------
# mapping search_analyzer (index/query analysis split)
# ---------------------------------------------------------------------------

_ENGINES_SA: dict = {}


def q_search_analyzer_autocomplete(spark, sf_dir):
    """The canonical autocomplete mapping: text indexed with an
    edge_ngram analyzer, queried through the mapping-level
    ``search_analyzer`` (keyword+lowercase) with NO per-query override —
    the prefix 'tab' hits every doc containing a word starting with
    'tab'. Oracle: an independent word-prefix scan over the raw corpus
    (TextFieldMapper searchAnalyzer; the hit SET is gated, scores are
    edge-ngram BM25 and deliberately not mirrored)."""
    import os

    from sparksearch import contract as C
    from sparksearch.analysis_custom import register_analyzer
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader
    from sparksearch.queries import Match

    register_analyzer("sa_edge", {
        "tokenizer": {"type": "edge_ngram", "min_gram": 2, "max_gram": 8,
                      "token_chars": ["letter", "digit"]},
        "filter": ["lowercase"]})
    register_analyzer("sa_kw", {"tokenizer": "keyword",
                                "filter": ["lowercase"]})
    key = os.path.realpath(sf_dir)
    if key not in _ENGINES_SA:
        _ENGINES_SA[key] = Executor(IndexReader(spark, C.cached_index(
            spark, sf_dir, "sa", analyzer="sa_edge",
            search_analyzer="sa_kw")))
    ex = _ENGINES_SA[key]
    hits = ex.search(Match("text", "TAB"), k=100000, fetch=True)
    return hits.select("url").orderBy("url")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (arXiv:2303.09540): k-means the
    embeddings, then inside each cluster mark items whose cosine to a
    lower-id member exceeds tau. tau=0.35 sits at the synthetic
    corpus's 99.9th pairwise-cosine percentile so the gate exercises
    real positives; production tau≈0.95+. Oracle: the unrolled Lloyd's
    SQL (contract_round2n) extended with the within-cluster pair scan."""
    from sparksearch.clustering import semantic_dedup
    embs = spark.read.parquet(sf_dir + "/embeddings.parquet")
    out = semantic_dedup(embs, k=4, iters=2, tau=0.35)
    return (out.select(F.col("vid").cast("long").alias("vid"),
                       F.col("cl").cast("int").alias("cl"), "is_dup")
            .orderBy("vid"))


def _semantic_dedup_sql() -> str:
    from sparksearch.contract_round2n import _kmeans_sql
    base = _kmeans_sql()
    head = base[:base.rindex("SELECT af.cl")]
    return f"""
{head},
nrm AS ( SELECT af.vid, af.cl,
                list_transform(e.v, x -> x / sqrt(list_sum(
                    list_transform(e.v, y -> y * y)))) AS nv
         FROM af JOIN e ON af.vid = e.vid ),
dups AS ( SELECT DISTINCT b.vid
          FROM nrm a JOIN nrm b ON a.cl = b.cl AND a.vid < b.vid
          WHERE round(list_sum(list_transform(
                    range(1, len(a.nv) + 1),
                    i -> a.nv[i] * b.nv[i])), 6) > 0.35 )
SELECT CAST(af.vid AS BIGINT) AS vid, CAST(af.cl AS INT) AS cl,
       (af.vid IN ( SELECT vid FROM dups )) AS is_dup
FROM af ORDER BY vid
""".strip()


def _sa_oracle() -> str:
    from sparksearch import contract as C
    return f"""
WITH {C._PAGES}, {C._TOK}
SELECT DISTINCT url
FROM pages p JOIN tok t USING (docid)
WHERE t.term LIKE 'tab%'
ORDER BY url
""".strip()


def queries() -> dict:
    out = {name: _q_filter_goldens(name, s, p, doc)
           for name, (s, p, _, doc) in _CASES.items()}
    out["search_analyzer_autocomplete"] = q_search_analyzer_autocomplete
    out["semantic_dedup"] = q_semantic_dedup
    return out


def oracle_sql() -> dict:
    out = {name: _sql_goldens(g) for name, (_, _, g, _) in _CASES.items()}
    out["search_analyzer_autocomplete"] = _sa_oracle()
    out["semantic_dedup"] = _semantic_dedup_sql()
    return out
