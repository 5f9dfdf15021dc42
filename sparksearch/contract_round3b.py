"""Round-3 contract entries: non-English analyzers.

Language stemmer gates (minimal_french / light_german / light_spanish,
ref StemmerTokenFilterFactory.java:143-260): each builds an index over
the corpus with a custom analyzer (standard tokenizer + lowercase +
stemmer variant) and runs a BM25 match whose query terms conflate with
corpus terms ONLY under the stemmer (e.g. spanish 'columnas' -> 'column').

Oracle strategy: unlike the english gate (which embeds porter_stem
output), the light/minimal rules are simple enough to express directly
in SQL — the oracle re-implements each rule set as stepwise CTEs over
the term dictionary (regexp_replace / CASE, written by hand from the
published Savoy rules), so the two sides share only the rule SPEC, not
code. Query terms are stemmed by the same SQL by unioning them into the
dictionary.

cjk_bigram (CJKBigramFilterFactory): gated against HAND-WRITTEN golden
token streams (the analyze_goldens pattern), since the corpus has no CJK
text.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sparksearch import contract as C

_ENGINES: dict[tuple, tuple] = {}

#: language -> (analyzer name, stemmer filter language, query text)
_LANGS = {
    "french": ("an_fr_min", "minimal_french", "customers querys"),
    "german": ("an_de_light", "light_german", "tablen joinen"),
    "spanish": ("an_es_light", "light_spanish", "columnas tablas"),
    # round-3 additions: query terms reach corpus terms only via the
    # stemmer (columnas -> column, tablo -> tabl = stem of 'table';
    # columna/filtero -> column/filter under the italian vowel strip)
    "portuguese": ("an_pt_light", "light_portuguese", "columnas tablo"),
    "italian": ("an_it_light", "light_italian", "columna filtero"),
    # merger/sorat -> merg/sor = swedish light stems of corpus
    # merge/sort; tabler/scanene -> tabl/scan = norwegian stems of
    # table/scan
    "swedish": ("an_sv_light", "light_swedish", "merger sorat"),
    "norwegian": ("an_no_light", "light_norwegian", "tabler scanene"),
}


def _register_lang(lang: str) -> str:
    from sparksearch.analysis_custom import get_custom, register_analyzer
    name, variant, _ = _LANGS[lang]
    if get_custom(name) is None:
        register_analyzer(name, {
            "tokenizer": "standard",
            "filter": ["lowercase",
                       {"type": "stemmer", "language": variant}],
        })
    return name


def _get_lang_engine(spark, sf_dir: str, lang: str):
    from sparksearch.exec import Executor
    from sparksearch.index import IndexReader

    an = _register_lang(lang)
    key = (os.path.realpath(sf_dir), lang)
    if key not in _ENGINES:
        ix = IndexReader(spark, C.cached_index(spark, sf_dir, lang[:2],
                                               analyzer=an))
        _ENGINES[key] = (ix, Executor(ix))
    return _ENGINES[key]


def _q_stem(lang: str):
    def run(spark, sf_dir):
        from sparksearch.queries import Match
        _, ex = _get_lang_engine(spark, sf_dir, lang)
        return C.topk_rounded(ex, Match("text", _LANGS[lang][2]), k=10)
    run.__name__ = f"q_stem_{lang}"
    run.__doc__ = (
        f"BM25 through a {_LANGS[lang][1]}-stemmed index; the query terms "
        f"reach corpus terms only via the stemmer "
        f"(StemmerTokenFilterFactory.java).")
    return run


# ---------------------------------------------------------------------------
# SQL stem mirrors — hand-written from the Savoy rule sets
# ---------------------------------------------------------------------------

def _fr_stem_ctes() -> str:
    """minimal_french as stepwise CTEs over dict0(term): 'aux'->'al' /
    drop 'x' for 6+ char words, else strip s, r, e, é in order, then
    reduce a final double letter."""
    return """
fr0 AS ( SELECT term,
                CASE WHEN length(term) < 6 OR term LIKE '%x' THEN term
                     ELSE regexp_replace(term, 's$', '') END AS s,
                length(term) >= 6 AS big FROM dict0 ),
fr1 AS ( SELECT term, CASE WHEN big AND term NOT LIKE '%x'
                           THEN regexp_replace(s, 'r$', '') ELSE s END AS s,
                big FROM fr0 ),
fr2 AS ( SELECT term, CASE WHEN big AND term NOT LIKE '%x'
                           THEN regexp_replace(s, 'e$', '') ELSE s END AS s,
                big FROM fr1 ),
fr3 AS ( SELECT term, CASE WHEN big AND term NOT LIKE '%x'
                           THEN regexp_replace(s, 'é$', '') ELSE s END AS s,
                big FROM fr2 ),
stemmap AS ( SELECT term,
    CASE WHEN NOT big THEN s
         WHEN term LIKE '%aux' THEN substr(term, 1, length(term)-2) || 'l'
         WHEN term LIKE '%x' THEN substr(term, 1, length(term)-1)
         WHEN length(s) > 1 AND substr(s, length(s), 1)
                              = substr(s, length(s)-1, 1)
              THEN substr(s, 1, length(s)-1)
         ELSE s END AS stem FROM fr3 )
""".strip()


_DE_ST = "('b','d','f','g','h','k','l','m','n','t')"


def _de_pass(src: str, dst: str, three: str) -> str:
    """One light_german suffix pass as a CTE: {three} is the 3-char
    suffix this pass strips ('ern' in pass 1, 'est' in pass 2)."""
    return f"""
{dst} AS ( SELECT term,
    CASE WHEN length(s) > 5 AND s LIKE '%{three}'
              THEN substr(s, 1, length(s)-3)
         WHEN length(s) > 4 AND substr(s, length(s)-1, 1) = 'e'
              AND substr(s, length(s), 1) IN ('m','n','r','s')
              THEN substr(s, 1, length(s)-2)
         WHEN length(s) > 3 AND s LIKE '%e'
              THEN substr(s, 1, length(s)-1)
         WHEN length(s) > 3 AND s LIKE '%s'
              AND substr(s, length(s)-1, 1) IN {_DE_ST}
              THEN substr(s, 1, length(s)-1)
         ELSE s END AS s FROM {src} )
""".strip()


def _de_stem_ctes() -> str:
    fold = ("translate(term, 'äàáâöòóôïìíîüùúû', "
            "'aaaaooooiiiiuuuu')")
    return (f"de0 AS ( SELECT term, {fold} AS s FROM dict0 ),\n"
            + _de_pass("de0", "de1", "ern") + ",\n"
            + _de_pass("de1", "de2", "est") + ",\n"
            + "stemmap AS ( SELECT term, s AS stem FROM de2 )")


def _es_stem_ctes() -> str:
    return """
es0 AS ( SELECT term, translate(term, 'áéíóú', 'aeiou') AS s FROM dict0 ),
stemmap AS ( SELECT term,
    CASE WHEN length(term) < 5 THEN term
         WHEN substr(s, length(s), 1) IN ('o','a','e')
              THEN substr(s, 1, length(s)-1)
         WHEN s LIKE '%eses' THEN substr(s, 1, length(s)-2)
         WHEN s LIKE '%ces' THEN substr(s, 1, length(s)-3) || 'z'
         WHEN s LIKE '%s' AND substr(s, length(s)-1, 1) IN ('o','a','e')
              THEN substr(s, 1, length(s)-2)
         ELSE s END AS stem FROM es0 )
""".strip()


def _pt_stem_ctes() -> str:
    """light_portuguese as stepwise CTEs: Orengo plural reduction
    (diphthong table, then generic final-s drop), accent/cedilla
    folding, final gender vowel strip — hand-written from the rule spec
    in stemmers.py's docstrings (Orengo & Huyck SPIRE 2001 / Savoy)."""
    return """
pt0 AS ( SELECT term,
    CASE WHEN length(term) < 4 OR term NOT LIKE '%s' THEN term
         WHEN length(term) >= 6 AND term LIKE '%ões'
              THEN substr(term, 1, length(term)-3) || 'ão'
         WHEN length(term) >= 4 AND term LIKE '%ães'
              THEN substr(term, 1, length(term)-3) || 'ão'
         WHEN length(term) >= 5 AND term LIKE '%ais'
              THEN substr(term, 1, length(term)-3) || 'al'
         WHEN length(term) >= 5 AND term LIKE '%éis'
              THEN substr(term, 1, length(term)-3) || 'el'
         WHEN length(term) >= 5 AND term LIKE '%eis'
              THEN substr(term, 1, length(term)-3) || 'el'
         WHEN length(term) >= 5 AND term LIKE '%óis'
              THEN substr(term, 1, length(term)-3) || 'ol'
         WHEN length(term) >= 4 AND term LIKE '%is'
              THEN substr(term, 1, length(term)-2) || 'il'
         WHEN length(term) >= 4 AND term LIKE '%ns'
              THEN substr(term, 1, length(term)-2) || 'm'
         WHEN substr(term, length(term)-1, 1) IN ('s', 'u') THEN term
         ELSE substr(term, 1, length(term)-1) END AS s FROM dict0 ),
pt1 AS ( SELECT term, translate(s, 'áâãàéêíóôõúç', 'aaaaeeiooouc') AS f
         FROM pt0 ),
stemmap AS ( SELECT term,
    CASE WHEN length(f) >= 4 AND substr(f, length(f), 1) IN ('a','e','o')
         THEN substr(f, 1, length(f)-1) ELSE f END AS stem FROM pt1 )
""".strip()


def _it_stem_ctes() -> str:
    """light_italian as CTEs: accent folding, then for 6+-char words one
    final gender/number vowel strip (two chars when the vowel follows an
    'i': -io/-ia/-ie/-ii)."""
    return """
it0 AS ( SELECT term, translate(term, 'àáèéìíòóùú', 'aaeeiioouu') AS f
         FROM dict0 ),
stemmap AS ( SELECT term,
    CASE WHEN length(f) >= 6 AND substr(f, length(f), 1)
              IN ('a','e','i','o')
         THEN CASE WHEN substr(f, length(f)-1, 1) = 'i'
                   THEN substr(f, 1, length(f)-2)
                   ELSE substr(f, 1, length(f)-1) END
         ELSE f END AS stem FROM it0 )
""".strip()


def _sv_stem_ctes() -> str:
    """light_swedish as CTEs: genitive/plural 's' strip, then ONE ending
    by descending length — mirrors the ladder spec in stemmers.py."""
    return """
sv0 AS ( SELECT term,
    CASE WHEN length(term) > 4 AND term LIKE '%s'
         THEN substr(term, 1, length(term)-1) ELSE term END AS s
    FROM dict0 ),
stemmap AS ( SELECT term,
    CASE WHEN length(s) > 7 AND (s LIKE '%elser' OR s LIKE '%heten')
              THEN substr(s, 1, length(s)-5)
         WHEN length(s) > 6 AND substr(s, length(s)-3, 4) IN
              ('arna','arne','erna','ande','else','aste','orna','aren')
              THEN substr(s, 1, length(s)-4)
         WHEN length(s) > 5 AND substr(s, length(s)-2, 3) IN
              ('are','ast','het')
              THEN substr(s, 1, length(s)-3)
         WHEN length(s) > 4 AND substr(s, length(s)-1, 2) IN
              ('ar','er','or','en','at','te','et')
              THEN substr(s, 1, length(s)-2)
         WHEN length(s) > 3 AND substr(s, length(s), 1) IN
              ('t','a','e','n')
              THEN substr(s, 1, length(s)-1)
         ELSE s END AS stem FROM sv0 )
""".strip()


def _no_stem_ctes() -> str:
    """light_norwegian as one CASE ladder: -het(en/er)/-else
    nominalizers first, then the minimal plural/definite endings."""
    return """
stemmap AS ( SELECT term,
    CASE WHEN length(term) >= 7 AND (term LIKE '%heten'
              OR term LIKE '%heter')
              THEN substr(term, 1, length(term)-5)
         WHEN length(term) >= 6 AND term LIKE '%else'
              THEN substr(term, 1, length(term)-4)
         WHEN length(term) >= 5 AND term LIKE '%het'
              THEN substr(term, 1, length(term)-3)
         WHEN length(term) >= 6 AND (term LIKE '%ene' OR term LIKE '%ane')
              THEN substr(term, 1, length(term)-3)
         WHEN length(term) >= 5 AND substr(term, length(term)-1, 2) IN
              ('er','en','et','ar')
              THEN substr(term, 1, length(term)-2)
         WHEN length(term) >= 4 AND substr(term, length(term), 1) IN
              ('a','e')
              THEN substr(term, 1, length(term)-1)
         ELSE term END AS stem FROM dict0 )
""".strip()


_STEM_CTES = {"french": _fr_stem_ctes, "german": _de_stem_ctes,
              "spanish": _es_stem_ctes, "portuguese": _pt_stem_ctes,
              "italian": _it_stem_ctes, "swedish": _sv_stem_ctes,
              "norwegian": _no_stem_ctes}


def _sql_stem_match(lang: str) -> str:
    """BM25 over the stemmed token stream; query terms stemmed by the
    SAME SQL chain (unioned into the dictionary)."""
    qwords = sorted(set(_LANGS[lang][2].split()))
    qvals = ", ".join(f"('{w}')" for w in qwords)
    qin = ", ".join(f"'{w}'" for w in qwords)
    idf, tfn = C._idf_sql, C._tfn_sql
    from sparksearch.norms import quantized_dl_sql
    return f"""
WITH {C._PAGES},
rawtok AS ( SELECT docid, t AS term FROM (
    SELECT docid, unnest(string_split(text, ' ')) AS t FROM pages )
    WHERE t <> '' ),
dict0 AS ( SELECT DISTINCT term FROM rawtok
           UNION SELECT w FROM (VALUES {qvals}) v(w) ),
{_STEM_CTES[lang]()},
tok AS ( SELECT r.docid, s.stem AS term
         FROM rawtok r JOIN stemmap s USING (term) ),
dl AS ( SELECT docid, count(*) AS dl FROM tok GROUP BY docid ),
dlq AS ( SELECT docid, dl, {quantized_dl_sql('dl')} AS dl_q FROM dl ),
g AS ( SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       FROM dl ),
qterms AS ( SELECT DISTINCT stem FROM stemmap WHERE term IN ({qin}) ),
tf AS ( SELECT docid, term, count(*) AS tf FROM tok
        WHERE term IN ( SELECT stem FROM qterms ) GROUP BY docid, term ),
dft AS ( SELECT term, count(*) AS df FROM tf GROUP BY term ),
sc AS ( SELECT tf.docid,
               sum({idf('dft.df', 'g.n')} *
                   {tfn('tf.tf', 'dlq.dl_q', 'g.avgdl')}) AS score
        FROM tf JOIN dft USING (term) JOIN dlq USING (docid) CROSS JOIN g
        GROUP BY tf.docid )
SELECT p.docid, p.url, round(sc.score, 4) AS score
FROM sc JOIN pages p USING (docid)
ORDER BY round(sc.score, 4) DESC, p.docid ASC LIMIT 10
""".strip()


# ---------------------------------------------------------------------------
# cjk_bigram: hand-written golden token streams through the UDF path
# ---------------------------------------------------------------------------

_CJK_PROBES = [
    (0, "日本語 テスト spark"),
    (1, "中文 search 中 engine"),
    (2, "カタカナrun 日本"),
]

#: (probe, term, pos) — written by hand from the CJKBigramFilter contract:
#: adjacent CJK chars pair into bigrams, lone CJK chars stay unigrams,
#: non-CJK tokens pass through, positions renumbered sequentially
_CJK_GOLDENS = [
    (0, "日本", 0), (0, "本語", 1), (0, "テス", 2), (0, "スト", 3),
    (0, "spark", 4),
    (1, "中文", 0), (1, "search", 1), (1, "中", 2), (1, "engine", 3),
    (2, "カタ", 0), (2, "タカ", 1), (2, "カナ", 2), (2, "run", 3),
    (2, "日本", 4),
]


def q_cjk_bigram_match(spark, sf_dir):
    """cjk_bigram token filter through the executor Arrow-UDF path,
    gated against hand-written bigram goldens (CJKBigramFilterFactory;
    Lucene CJKBigramFilter)."""
    from functools import reduce

    from sparksearch.analysis_custom import get_custom, register_analyzer
    from sparksearch.build import tokenize_udf
    if get_custom("an_cjk") is None:
        register_analyzer("an_cjk", {
            "tokenizer": "standard",
            "filter": [{"type": "cjk_bigram"}, "lowercase"],
        })
    outs = []
    for pid, text in _CJK_PROBES:
        df = spark.createDataFrame([(text,)], "text string")
        tok = df.withColumn("_t", tokenize_udf("an_cjk")(F.col("text")))
        outs.append(tok.select(
            F.lit(pid).alias("probe"),
            F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
            .select("probe", F.col("tp.terms").alias("term"),
                    F.col("tp.poss").cast("int").alias("pos")))
    return (reduce(lambda a, b: a.unionAll(b), outs)
            .orderBy("probe", "pos", "term"))


def _sql_cjk_goldens() -> str:
    vals = ", ".join(f"({p}, '{t}', {pos})" for p, t, pos in _CJK_GOLDENS)
    return f"""
SELECT probe, term, CAST(pos AS INT) AS pos
FROM (VALUES {vals}) AS v(probe, term, pos)
ORDER BY probe, pos, term
""".strip()


# ---------------------------------------------------------------------------
# russian / arabic stemmer goldens (corpus has no Cyrillic/Arabic text —
# same strategy as cjk_bigram: hand-derived expected token streams)
# ---------------------------------------------------------------------------

_RU_PROBES = [
    (0, "красивый дом"),
    (1, "новые книги здесь"),
    (2, "я читаю книгами table"),
]

#: (probe, stem, pos) — derived BY HAND from the light_russian rule spec
#: (one longest adjectival else nominal ending removed for 4+-char words
#: when 3+ chars remain): красивый -ый -> красив; дом <4 chars; новые
#: -ые -> нов; книги -и -> книг; здесь -ь -> здес; я <4; читаю (no table
#: ending) unchanged; книгами -ами -> книг; table non-Cyrillic unchanged.
_RU_GOLDENS = [
    (0, "красив", 0), (0, "дом", 1),
    (1, "нов", 0), (1, "книг", 1), (1, "здес", 2),
    (2, "я", 0), (2, "читаю", 1), (2, "книг", 2), (2, "table", 3),
]

_AR_PROBES = [
    (0, "الكتاب مفيد"),
    (1, "والمكتبة للطلاب"),
    (2, "مدرسون يعملون هنا"),
]

#: (probe, stem, pos) — derived BY HAND from the light10 spec (strip one
#: article prefix, then one suffix): الكتاب: ال- -> كتاب; مفيد
#: unchanged; والمكتبة: وال- then ة- -> مكتب; للطلاب: لل- -> طلاب;
#: مدرسون / يعملون: ون- -> مدرس / يعمل; هنا unchanged (no listed affix).
_AR_GOLDENS = [
    (0, "كتاب", 0), (0, "مفيد", 1),
    (1, "مكتب", 0), (1, "طلاب", 1),
    (2, "مدرس", 0), (2, "يعمل", 1), (2, "هنا", 2),
]

_HI_PROBES = [
    (0, "लड़के लड़का लड़की"),
    (1, "करने करता करती"),
    (2, "भेजेगा किताबों table"),
]

#: (probe, stem, pos) — derived BY HAND from the Ramanathan & Rao table
#: in stemmers.py (longest suffix stripped, 2+ chars must remain):
#: लड़के/लड़का/लड़की drop the final matra -> लड़क; करने -ने / करता -ता /
#: करती -ती -> कर; भेजेगा -ेगा -> भेज; किताबों -ों -> किताब; latin
#: 'table' untouched.  The probes also lock the WB4 tokenizer rule:
#: matras and the nukta are Extend marks that must NOT split the token.
_HI_GOLDENS = [
    (0, "लड़क", 0), (0, "लड़क", 1), (0, "लड़क", 2),
    (1, "कर", 0), (1, "कर", 1), (1, "कर", 2),
    (2, "भेज", 0), (2, "किताब", 1), (2, "table", 2),
]


def _q_stem_goldens(an_name: str, variant: str, probes):
    def run(spark, sf_dir):
        from functools import reduce

        from sparksearch.analysis_custom import (get_custom,
                                                 register_analyzer)
        from sparksearch.build import tokenize_udf
        if get_custom(an_name) is None:
            register_analyzer(an_name, {
                "tokenizer": "standard",
                "filter": ["lowercase",
                           {"type": "stemmer", "language": variant}],
            })
        outs = []
        for pid, text in probes:
            df = spark.createDataFrame([(text,)], "text string")
            tok = df.withColumn("_t",
                                tokenize_udf(an_name)(F.col("text")))
            outs.append(tok.select(
                F.lit(pid).alias("probe"),
                F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
                .select("probe", F.col("tp.terms").alias("term"),
                        F.col("tp.poss").cast("int").alias("pos")))
        return (reduce(lambda a, b: a.unionAll(b), outs)
                .orderBy("probe", "pos", "term"))
    run.__name__ = f"q_stem_goldens_{variant}"
    run.__doc__ = (f"{variant} stemmer through the executor Arrow-UDF "
                   f"path, gated against hand-derived goldens "
                   f"(StemmerTokenFilterFactory.java:143-260).")
    return run


def _sql_goldens(goldens) -> str:
    vals = ", ".join(
        "({}, '{}', {})".format(p, t.replace("'", "''"), pos)
        for p, t, pos in goldens)
    return f"""
SELECT probe, term, CAST(pos AS INT) AS pos
FROM (VALUES {vals}) AS v(probe, term, pos)
ORDER BY probe, pos, term
""".strip()


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict:
    return {
        "stem_french": _q_stem("french"),
        "stem_german": _q_stem("german"),
        "stem_spanish": _q_stem("spanish"),
        "stem_portuguese": _q_stem("portuguese"),
        "stem_italian": _q_stem("italian"),
        "stem_russian": _q_stem_goldens("an_ru_light", "light_russian",
                                        _RU_PROBES),
        "stem_arabic": _q_stem_goldens("an_ar_light10", "arabic",
                                       _AR_PROBES),
        "stem_swedish": _q_stem("swedish"),
        "stem_norwegian": _q_stem("norwegian"),
        "stem_hindi": _q_stem_goldens("an_hi", "hindi", _HI_PROBES),
        "cjk_bigram_match": q_cjk_bigram_match,
    }


def oracle_sql() -> dict:
    return {
        "stem_french": _sql_stem_match("french"),
        "stem_german": _sql_stem_match("german"),
        "stem_spanish": _sql_stem_match("spanish"),
        "stem_portuguese": _sql_stem_match("portuguese"),
        "stem_italian": _sql_stem_match("italian"),
        "stem_russian": _sql_goldens(_RU_GOLDENS),
        "stem_arabic": _sql_goldens(_AR_GOLDENS),
        "stem_swedish": _sql_stem_match("swedish"),
        "stem_norwegian": _sql_stem_match("norwegian"),
        "stem_hindi": _sql_goldens(_HI_GOLDENS),
        "cjk_bigram_match": _sql_cjk_goldens(),
    }
