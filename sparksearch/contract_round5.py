"""Driver-contract entries for round 5.

- ip_v6_range        — IPv6 ip-field support (IpFieldMapper.java handles
                       v6 natively as the 16-byte InetAddressPoint
                       encoding): CIDR term + range + sort over
                       synthesized v6 addresses, every comparison in the
                       shared 32-hex-char comparable space
                       (fieldtypes.ip16_hex — pure Catalyst, no UDF).
- completion_regex_alt — regex completion with TOP-LEVEL ALTERNATION
                       ('sc|ta'): the sargable literal-head guard must
                       disable itself (ADVICE r4: 'scan|term' must not
                       pre-filter to the first branch only) while the
                       anchored rlike still matches both branches.
- painless_methods   — widened Painless surface (Math.hypot /
                       Math.toDegrees / Math.PI constants, String
                       matches/replaceAll/charAt/concat/repeat, static
                       Integer.parseInt / String.valueOf) compiled to
                       Catalyst columns; oracle mirrors the arithmetic.
- knn_ivfpq_trained  — served IVF-PQ with a TRAINED coarse quantizer:
                       `clustering.kmeans` centroids passed to
                       `ivfpq_build(coarse=...)` (faiss IndexIVF accepts
                       any pre-trained quantizer); oracle unrolls the
                       kmeans iteration + the identical residual-PQ/ADC
                       arithmetic in DuckDB.
- percolate_many     — percolator at scale: the candidate pre-filter
                       (modules/percolator/.../QueryAnalyzer.java term
                       extraction) turns the doc x query cross join into
                       an anchor-term equi-join; a large generated query
                       table is matched and the oracle recomputes every
                       query class directly in SQL.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# ip_v6_range — v6 CIDR + range + InetAddressPoint-order sort
# ---------------------------------------------------------------------------
# events carry no v6 column: synthesize "2001:db8::<hex>" from event_id
# (user_id tops out at ~150, which would leave the [0x100,0x700) band
# empty — event_id spans the full modulus) with arithmetic both sides
# recompute (the contract_round3e pattern).
# Filter = CIDR 2001:db8::/117 (last-hextet 0..2047) AND range
# [::100, ::700) (256..1791); order = encoded-space order == the
# synthesized hextet's numeric order.

_V6_LO, _V6_HI = 0x100, 0x700          # gte / lt bounds (256 / 1792)
_V6_MOD = 4096


def q_ip_v6_range(spark, sf_dir):
    """IPv6 ip field: CIDR term + range compare + sort in the 16-byte
    InetAddressPoint order (IpFieldMapper.java — v6 is native there;
    fieldtypes.ip16_hex realises the same order as 32 hex chars)."""
    from sparksearch.fieldtypes import ip16_hex, ip_range_cond, ip_term_cond
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ip6 = F.concat(
        F.lit("2001:db8::"),
        F.lower(F.conv((F.col("event_id") % _V6_MOD).cast("string"),
                       10, 16)))
    ev = ev.withColumn("ip6", ip6)
    cond = (ip_term_cond(F.col("ip6"), "2001:db8::/117")
            & ip_range_cond(F.col("ip6"), gte="2001:db8::100",
                            lt="2001:db8::700"))
    return (ev.where(cond)
            .select("event_id", "ip6")
            .orderBy(ip16_hex(F.col("ip6")), F.col("event_id"))
            .limit(30))


def sql_ip_v6_range() -> str:
    # /117 network 2001:db8:: covers last-hextet 0..2047; the explicit
    # range narrows to [256, 1792) — intersection [256, 1791].
    lo, hi = _V6_LO, min(_V6_HI - 1, 2047)
    return f"""
SELECT event_id,
       '2001:db8::' || lower(to_hex(event_id % {_V6_MOD})) AS ip6
FROM events
WHERE (event_id % {_V6_MOD}) BETWEEN {lo} AND {hi}
ORDER BY (event_id % {_V6_MOD}), event_id LIMIT 30
""".strip()


# ---------------------------------------------------------------------------
# completion_regex_alt — alternation disables the literal-head prefilter
# ---------------------------------------------------------------------------

_CRA_REGEX = "sc|ta"


def q_completion_regex_alt(spark, sf_dir):
    """Regex completion with top-level alternation: 'sc|ta' must reach
    BOTH branches — the sargable literal-head guard returns '' for
    alternation (fetchops._regex_literal_head), leaving the anchored
    rlike as the only predicate (Lucene RegexCompletionQuery semantics:
    the automaton is a prefix matcher over the full pattern)."""
    from sparksearch import contract as C
    from sparksearch.fetchops import suggest_completion_regex
    ix, _ = C.get_engine(spark, sf_dir)
    return suggest_completion_regex(ix, _CRA_REGEX, size=8)


def sql_completion_regex_alt() -> str:
    from sparksearch import contract as C
    return f"""
WITH {C._PAGES},
{C._TOK},
d AS ( SELECT term, CAST(count(DISTINCT docid) AS BIGINT) AS df
       FROM tok GROUP BY term )
SELECT term, df FROM d
WHERE regexp_matches(term, '^(?:{_CRA_REGEX})')
ORDER BY df DESC, term ASC LIMIT 8
""".strip()


# ---------------------------------------------------------------------------
# painless_methods — widened Math./String./static surface
# ---------------------------------------------------------------------------

_PM_SCRIPT = ("_score"
              " + Math.hypot(3.0, doc['dl'].value / 50.0)"
              " + doc['url'].value.replaceAll('[aeiou0-9]+', '').length()"
              " / 100.0"
              " + Math.toDegrees(Math.PI) / 360.0")


def q_painless_methods(spark, sf_dir):
    """script_score through the widened Painless surface: Math.hypot,
    Math.toDegrees, the Math.PI constant, and String.replaceAll — all
    compiled to Catalyst (lang-painless spi allowlists java.lang.Math /
    java.lang.String: modules/lang-painless/src/main/resources/org/
    opensearch/painless/spi/java.lang.txt)."""
    from sparksearch import contract as C
    from sparksearch.dsl import from_dsl
    _, ex = C.get_engine(spark, sf_dir)
    q = from_dsl({"script_score": {
        "query": {"match": {"text": "join"}},
        "script": {"source": _PM_SCRIPT}}})
    return C.topk_rounded(ex, q, k=10)


def sql_painless_methods() -> str:
    from sparksearch import contract as C
    from sparksearch.contract_round2c import _SC_JOIN
    expr = ("sc.score + sqrt(9.0 + (dl.dl / 50.0) * (dl.dl / 50.0)) "
            "+ length(regexp_replace(p.url, '[aeiou0-9]+', '', 'g')) "
            "/ 100.0 + degrees(pi()) / 360.0")
    return f"""
WITH {C._PAGES}, {C._TOK}, {C._DL},
{_SC_JOIN}
SELECT p.docid, p.url, round({expr}, 4) AS score
FROM sc JOIN pages p USING (docid) JOIN dl USING (docid)
ORDER BY round({expr}, 4) DESC, p.docid ASC LIMIT 10
""".strip()


# ---------------------------------------------------------------------------
# knn_ivfpq_trained — kmeans-trained coarse quantizer
# ---------------------------------------------------------------------------

_TR_CELLS, _TR_PROBE, _TR_M, _TR_KC, _TR_Q, _TR_K = 8, 3, 4, 8, 7, 10
_TR_KM_ITERS = 1

_TR_DIRS: dict[str, str] = {}


def _trained_index_dir(spark, sf_dir: str) -> str:
    key = os.path.realpath(sf_dir)
    if key not in _TR_DIRS:
        from sparksearch.clustering import kmeans
        from sparksearch.dataops import ivfpq_build
        out = os.path.join(
            tempfile.gettempdir(),
            "sparksearch_ivfpqtr_" + key.strip("/").replace("/", "_"))
        if not os.path.exists(os.path.join(out, "ivfpq_meta.json")):
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            _, cents = kmeans(emb, k=_TR_CELLS, iters=_TR_KM_ITERS)
            ivfpq_build(emb, out, n_cells=_TR_CELLS, m=_TR_M, kc=_TR_KC,
                        iters=1, coarse=cents)
        _TR_DIRS[key] = out
    return _TR_DIRS[key]


def q_knn_ivfpq_trained(spark, sf_dir):
    """Served IVF-PQ whose coarse quantizer is TRAINED
    (clustering.kmeans Lloyd centroids — the faiss IndexIVFPQ `train()`
    path, vs the sampled-codebook shortcut of knn_ivfpq_served); the
    query path is identical: directory-pruned cell scan + ADC."""
    from sparksearch.dataops import ivfpq_query
    idx = _trained_index_dir(spark, sf_dir)
    qv = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
          .where(F.col("vec_id") == _TR_Q).first()["embedding"])
    out = ivfpq_query(spark, idx, qv, k=_TR_K, n_probe=_TR_PROBE,
                      exclude_id=_TR_Q)
    return out.select(F.col("vid").alias("vec_id"), "adc")


def sql_knn_ivfpq_trained() -> str:
    """The served-IVFPQ DuckDB unroll with the coarse codebook replaced
    by the kmeans(k, iters=1) unroll (init = k lowest-id vectors, means
    rounded to 6 dp, empty clusters keep previous centroids) — exactly
    `clustering.kmeans`'s arithmetic."""
    from sparksearch.contract_round4b import _ivfpq_sql
    k, t = _TR_CELLS, _TR_KM_ITERS
    l2 = ("list_sum(list_transform(range(1, len({a}) + 1), "
          "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")
    parts = [f"""
kc0 AS ( SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, v
         FROM ( SELECT vid, v FROM e ORDER BY vid LIMIT {k} ) )""".strip()]
    for n in range(1, t + 1):
        prev = f"kc{n - 1}"
        d = l2.format(a="e.v", b="c.v")
        parts.append(f"""
kd{n} AS ( SELECT e.vid, e.v, c.cid, {d} AS d FROM e, {prev} c ),
ka{n} AS ( SELECT vid, v, cid AS cl FROM (
             SELECT *, row_number() OVER (PARTITION BY vid
                        ORDER BY d ASC, cid ASC) AS rn FROM kd{n} )
           WHERE rn = 1 ),
kcm{n} AS ( SELECT cl AS cid, list(m ORDER BY pos) AS v FROM (
              SELECT cl, pos, round(avg(val), 6) AS m
              FROM ( SELECT cl, unnest(v) AS val,
                            generate_subscripts(v, 1) AS pos FROM ka{n} )
              GROUP BY cl, pos ) GROUP BY cl ),
kc{n} AS ( SELECT cid, v FROM kcm{n}
           UNION ALL
           SELECT cid, v FROM {prev}
           WHERE cid NOT IN ( SELECT cid FROM kcm{n} ) )""".strip())
    km = ",\n".join(parts)
    cc = (f"{km},\ncc AS ( SELECT cid AS ccid, v AS ccv FROM kc{t} )")
    return _ivfpq_sql(cc_cte=cc, nc=_TR_CELLS, np_=_TR_PROBE, m=_TR_M,
                      kc=_TR_KC, q=_TR_Q, k=_TR_K)


# ---------------------------------------------------------------------------
# percolate_many — candidate pre-filter over a generated query table
# ---------------------------------------------------------------------------

_PM_TERMS = ["hash", "join", "merge", "sort", "scan", "table", "index",
             "query", "row", "key", "agg", "bloom", "page", "disk",
             "tree", "log", "read", "write", "lock", "cache"]
_PM_AND_PAIRS = [("hash", "join"), ("merge", "sort"), ("scan", "table"),
                 ("index", "key"), ("query", "row"), ("agg", "table"),
                 ("read", "write"), ("page", "cache"), ("tree", "index"),
                 ("lock", "log")]
_PM_PHRASES = [("hash", "join"), ("merge", "sort"), ("query", "plan"),
               ("b", "tree"), ("row", "group")]


def _pm_queries_df(spark):
    rows = ([(f"t_{t}", "term", [t], None) for t in _PM_TERMS]
            + [(f"a_{a}_{b}", "match_and", [a, b], None)
               for a, b in _PM_AND_PAIRS]
            + [(f"p_{a}_{b}", "phrase", [a, b], None)
               for a, b in _PM_PHRASES])
    return spark.createDataFrame(
        rows, "qid string, kind string, terms array<string>, msm int")


def q_percolate_many(spark, sf_dir):
    """Percolation with the QueryAnalyzer candidate pre-filter: stored
    queries are anchored on extracted terms (disjunctions: every term;
    conjunctions/phrases: ONE required term), docs join queries through
    the anchor-term equi-join, and only the candidates evaluate the full
    predicate — per-doc work ∝ matches, not #queries
    (modules/percolator/.../QueryAnalyzer.java)."""
    from sparksearch import contract as C
    from sparksearch.percolate import percolate
    docs = C.pages_df(spark, sf_dir).select("url", "text")
    return percolate(docs, _pm_queries_df(spark), prefilter=True)


def sql_percolate_many() -> str:
    from sparksearch import contract as C
    terms_vals = ", ".join(f"('{t}')" for t in _PM_TERMS)
    and_blocks = "\n  UNION ALL\n".join(f"""
  SELECT docid, 'a_{a}_{b}' AS qid FROM dt
    WHERE term IN ('{a}', '{b}')
    GROUP BY docid HAVING count(DISTINCT term) = 2""".strip()
                                        for a, b in _PM_AND_PAIRS)
    ph_blocks = "\n  UNION ALL\n".join(f"""
  SELECT DISTINCT p0.docid, 'p_{a}_{b}' AS qid
    FROM tokpos p0 JOIN tokpos p1
      ON p1.docid = p0.docid AND p1.pos = p0.pos + 1
     AND p1.term = '{b}'
    WHERE p0.term = '{a}'""".strip() for a, b in _PM_PHRASES)
    return f"""
WITH {C._PAGES},
{C._TOKPOS},
dt AS ( SELECT DISTINCT docid, term FROM tokpos ),
hits AS (
  SELECT docid, 't_' || t AS qid
    FROM dt JOIN (VALUES {terms_vals}) v(t) ON dt.term = v.t
  UNION ALL
{and_blocks}
  UNION ALL
{ph_blocks} )
SELECT p.url, h.qid FROM hits h JOIN pages p USING (docid)
ORDER BY p.url, h.qid
""".strip()


# ---------------------------------------------------------------------------
# stem_greek — Ntais Greek stemmer through the executor Arrow-UDF chain
# ---------------------------------------------------------------------------
# The reference routes the plain "greek" stemmer name to Lucene's
# GreekStemFilter (StemmerTokenFilterFactory.java:196-197), chained
# after GreekLowerCaseFilter (accent fold + final sigma).  Goldens are
# hand-traced through the published Ntais rule tables (greekstem.py):
#   Ομάδες/ομάδα -> ομαδ (rule 1 strip+re-append / rule 21 bare -α)
#   υπολογιστές  -> υπολογιστ (rule 21 -εσ)
#   τρέχει/τρέχουν -> τρεχ (rule 21 -ει / -ουν)
#   ομορφότερη   -> ομορφ (rule 21 -η then rule 22 comparative -οτερ)
#   γεγονότα     -> γεγον (rule 0 irregular paradigm)

_EL_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "lowercase", "language": "greek"},
                           {"type": "stemmer", "language": "greek"}]}
_EL_PROBES = [(0, "Ομάδες ομάδα υπολογιστές"),
              (1, "τρέχει τρέχουν ομορφότερη γεγονότα")]
_EL_GOLDENS = [(0, "ομαδ", 0), (0, "ομαδ", 1), (0, "υπολογιστ", 2),
               (1, "τρεχ", 0), (1, "τρεχ", 1), (1, "ομορφ", 2),
               (1, "γεγον", 3)]


def q_stem_greek(spark, sf_dir):
    from sparksearch.contract_round3d import _q_filter_goldens
    return _q_filter_goldens(
        "an_greek_ntais", _EL_SETTINGS, _EL_PROBES,
        "Greek lowercase + Ntais stemmer chain vs hand-traced goldens "
        "(StemmerTokenFilterFactory.java:196 GreekStemFilter)")(
        spark, sf_dir)


def sql_stem_greek() -> str:
    from sparksearch.contract_round3b import _sql_goldens
    return _sql_goldens(_EL_GOLDENS)


# ---------------------------------------------------------------------------
# highlight_fvh — fragments driven by stored postings positions
# ---------------------------------------------------------------------------

def q_highlight_fvh(spark, sf_dir):
    """FVH analogue: match positions come from the index's postings (the
    stored term vectors), fragments are ±5-word windows greedily anchored
    at those positions (FastVectorHighlighter.java FieldPhraseList /
    SimpleFragListBuilder). The oracle recomputes positions from the raw
    text — agreement proves the stored positions ARE the text's word
    offsets on this chain."""
    from sparksearch import contract as C
    from sparksearch.fetchops import highlight_fvh
    from sparksearch.queries import Match
    _, ex = C.get_engine(spark, sf_dir)
    pages = C.pages_df(spark, sf_dir)
    topk = C.topk_rounded(ex, Match("text", "join"), k=3)
    return highlight_fvh(ex, topk, pages, ["join"], fragment_size=80,
                         number_of_fragments=2)


def sql_highlight_fvh() -> str:
    from sparksearch import contract as C
    # W = 80 // 16 = 5 words each side, merge gap 10; anchors: first match
    # position, then the first match more than gap past it (the greedy
    # selection truncated at number_of_fragments=2). DuckDB positions are
    # 1-based; Spark's are 0-based token positions — a1/a2 here equal
    # (anchor+1).
    return f"""
WITH topk AS ( {C.match_sql('join', k=3)} ),
{C._PAGES.replace('pages AS', 'pages2 AS')},
ws AS ( SELECT t.docid, t.url, t.score, string_split(p.text, ' ') AS w
        FROM topk t JOIN pages2 p ON p.url = t.url ),
mp AS ( SELECT docid, url, score, w,
               list_filter(range(1, len(w) + 1),
                           i -> w[i] = 'join') AS mpos
        FROM ws ),
an AS ( SELECT *, mpos[1] AS a1,
               list_filter(mpos, p -> p - mpos[1] > 10)[1] AS a2
        FROM mp WHERE len(mpos) > 0 ),
fr AS (
  SELECT docid, url, score, 0 AS frag_idx, w, mpos,
         greatest(1, a1 - 5) AS s, least(len(w), a1 + 5) AS e
  FROM an
  UNION ALL
  SELECT docid, url, score, 1 AS frag_idx, w, mpos,
         greatest(1, a2 - 5) AS s, least(len(w), a2 + 5) AS e
  FROM an WHERE a2 IS NOT NULL )
SELECT docid, url, score, CAST(frag_idx AS INT) AS frag_idx,
       array_to_string(
         list_transform(array_slice(w, s, e),
                        x -> CASE WHEN x = 'join'
                             THEN '<em>' || x || '</em>' ELSE x END),
         ' ') AS fragment,
       CAST(len(list_filter(mpos, p -> p >= s AND p <= e)) AS INT)
         AS n_matches
FROM fr
ORDER BY score DESC, docid ASC, frag_idx ASC
""".strip()


# ---------------------------------------------------------------------------
# dynamic_mapping — DocumentParser type inference over generated JSON
# ---------------------------------------------------------------------------

def q_dynamic_mapping(spark, sf_dir):
    """Dynamic mapping inference (DocumentParser.java:695-810): JSON docs
    generated from events — fixed fields exercise every type rule (long,
    float, date in both default formats, non-numeric string -> text +
    .keyword, numeric string stays text because numeric_detection
    defaults false, object + boolean), and the attr_<k> family is
    TYPE-CONFLICTING across docs (even event_id -> JSON number, odd ->
    string), so the first-occurrence rule and the n_types conflict count
    are both data-dependent."""
    from sparksearch.dynmapping import infer_dynamic_mapping
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    even = eid % 2 == 0
    js = F.concat(
        F.lit('{"eid": '), eid,
        F.lit(', "val": '), F.format_string("%.2f", F.col("value")),
        F.lit(', "tag": "t'), F.col("user_id"), F.lit('x"'),
        F.lit(', "when": "'),
        F.when(even, F.lit("2025-01-02T03:04:05Z"))
         .otherwise(F.lit("2025/01/02")),
        F.lit('"'),
        F.lit(', "num_str": "123"'),
        F.lit(', "attr_'), (eid % 3).cast("string"), F.lit('": '),
        F.when(even, eid.cast("string"))
         .otherwise(F.concat(F.lit('"s'), eid, F.lit('"'))),
        F.lit(', "meta": {"flag": '),
        F.when(even, F.lit("true")).otherwise(F.lit("false")),
        F.lit("}}"))
    docs = ev.select(eid.alias("event_id"), js.alias("js"))
    return infer_dynamic_mapping(docs, "event_id", "js")


def sql_dynamic_mapping() -> str:
    return """
WITH attrs AS (
  SELECT 'attr_' || CAST(event_id % 3 AS VARCHAR) AS path,
         CASE WHEN event_id % 2 = 0 THEN 'long' ELSE 'text' END AS dtype,
         event_id
  FROM events ),
resolved AS (
  SELECT path, arg_min(dtype, event_id) AS dtype,
         min(event_id) AS first_id,
         count(DISTINCT dtype) AS n_types
  FROM attrs GROUP BY path ),
kw AS (
  SELECT path || '.keyword' AS path, 'keyword' AS dtype,
         min(event_id) AS first_id, 1 AS n_types
  FROM attrs WHERE dtype = 'text' GROUP BY path ),
fixed AS (
  SELECT * FROM (VALUES
      ('eid', 'long'), ('val', 'float'), ('tag', 'text'),
      ('tag.keyword', 'keyword'), ('when', 'date'),
      ('num_str', 'text'), ('num_str.keyword', 'keyword'),
      ('meta', 'object'), ('meta.flag', 'boolean'))
    AS v(path, dtype)
  CROSS JOIN (SELECT min(event_id) AS first_id, 1 AS n_types
              FROM events) m )
SELECT path, dtype, CAST(first_id AS BIGINT) AS first_id,
       CAST(n_types AS INT) AS n_types
FROM (SELECT * FROM resolved UNION ALL SELECT * FROM kw
      UNION ALL SELECT * FROM fixed)
ORDER BY path
""".strip()


# ---------------------------------------------------------------------------
# tk_thai — Thai tokenizer (dictionary-break + UAX#29 for other scripts)
# ---------------------------------------------------------------------------
# ThaiTokenizerFactory -> Lucene ThaiTokenizer (Thai-locale
# BreakIterator). Goldens hand-derived: Thai runs via greedy
# longest-match over the supplied dictionary, Latin/number tokens via
# the UAX#29 rules shared with tk_icu.

_THAI_SETTINGS = {
    "tokenizer": {"type": "thai",
                  "dictionary": ["สวัสดี", "ครับ", "ภาษา", "ไทย"]},
}
_THAI_PROBES = [(0, "สวัสดีครับ hello ภาษาไทย123")]
_THAI_GOLDENS = [(0, "สวัสดี", 0), (0, "ครับ", 1), (0, "hello", 2),
                 (0, "ภาษา", 3), (0, "ไทย", 4), (0, "123", 5)]


def q_tk_thai(spark, sf_dir):
    from sparksearch.contract_round3d import _q_filter_goldens
    return _q_filter_goldens(
        "an_thai_tk", _THAI_SETTINGS, _THAI_PROBES,
        "thai tokenizer: dictionary break for Thai runs + UAX#29 "
        "elsewhere (ThaiTokenizerFactory)")(spark, sf_dir)


def sql_tk_thai() -> str:
    from sparksearch.contract_round3b import _sql_goldens
    return _sql_goldens(_THAI_GOLDENS)


# ---------------------------------------------------------------------------
# highlight_fvh_phrase — phrase-aware FVH from stored positions
# ---------------------------------------------------------------------------

def q_highlight_fvh_phrase(spark, sf_dir):
    """Phrase FVH: fragments anchor at 'hash join' PHRASE occurrences
    (consecutive stored positions — FieldPhraseList), the whole span
    tagged as one unit. The oracle recomputes phrase starts from raw
    adjacent words."""
    from sparksearch import contract as C
    from sparksearch.fetchops import highlight_fvh_phrase
    from sparksearch.queries import MatchPhrase
    _, ex = C.get_engine(spark, sf_dir)
    pages = C.pages_df(spark, sf_dir)
    topk = C.topk_rounded(ex, MatchPhrase("text", "hash join"), k=3)
    return highlight_fvh_phrase(ex, topk, pages, ["hash", "join"],
                                fragment_size=80, number_of_fragments=2)


def sql_highlight_fvh_phrase() -> str:
    from sparksearch import contract as C
    # n=2, W=5, merge gap 2W+n-1=11; spark 0-based anchor a ↔ duck 1-based
    # p=a+1; window [max(1,p-5), min(len, p+5+1)]; open tag at i in mpos,
    # close at i-1 in mpos; full-phrase count: p>=s and p+1<=e.
    return f"""
WITH topk AS ( {C.phrase_sql('hash join', k=3)} ),
{C._PAGES.replace('pages AS', 'pages2 AS')},
ws AS ( SELECT t.docid, t.url, t.score, string_split(p.text, ' ') AS w
        FROM topk t JOIN pages2 p ON p.url = t.url ),
mp AS ( SELECT docid, url, score, w,
               list_filter(range(1, len(w)),
                           i -> w[i] = 'hash' AND w[i+1] = 'join') AS mpos
        FROM ws ),
an AS ( SELECT *, mpos[1] AS a1,
               list_filter(mpos, p -> p - mpos[1] > 11)[1] AS a2
        FROM mp WHERE len(mpos) > 0 ),
fr AS (
  SELECT docid, url, score, 0 AS frag_idx, w, mpos,
         greatest(1, a1 - 5) AS s, least(len(w), a1 + 6) AS e
  FROM an
  UNION ALL
  SELECT docid, url, score, 1 AS frag_idx, w, mpos,
         greatest(1, a2 - 5) AS s, least(len(w), a2 + 6) AS e
  FROM an WHERE a2 IS NOT NULL )
SELECT docid, url, score, CAST(frag_idx AS INT) AS frag_idx,
       array_to_string(
         list_transform(range(s, e + 1),
           i -> (CASE WHEN list_contains(mpos, i)
                 THEN '<em>' ELSE '' END) || w[i]
                || (CASE WHEN list_contains(mpos, i - 1)
                    THEN '</em>' ELSE '' END)),
         ' ') AS fragment,
       CAST(len(list_filter(mpos, p -> p >= s AND p + 1 <= e)) AS INT)
         AS n_matches
FROM fr
ORDER BY score DESC, docid ASC, frag_idx ASC
""".strip()


# ---------------------------------------------------------------------------
# hard_negative_mining — contrastive-training negatives from the corpus
# ---------------------------------------------------------------------------

_HN_ANCHORS = [0, 17, 42]
_HN_K, _HN_DUP = 5, 0.95


def q_hard_negatives(spark, sf_dir):
    """ANCE/DPR-style hard-negative mining: per anchor the top-k most
    similar vectors that are valid negatives (different label, cosine
    below the near-duplicate threshold). Brute cosine is the gated
    baseline; the 10^12-row path pre-filters with ivfpq_query and
    re-ranks — same contract (dataops.hard_negatives docstring)."""
    from sparksearch.dataops import hard_negatives
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hard_negatives(emb, _HN_ANCHORS, k=_HN_K,
                          dup_threshold=_HN_DUP)


def sql_hard_negatives() -> str:
    ids = ", ".join(str(a) for a in _HN_ANCHORS)
    return f"""
WITH a AS ( SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS v,
                   label AS al
            FROM embeddings WHERE vec_id IN ({ids}) ),
e AS ( SELECT vec_id AS neg_id, embedding::DOUBLE[] AS v, label AS nl
       FROM embeddings ),
q AS ( SELECT a.anchor_id, e.neg_id, a.al, e.nl,
              {_COS_HN} AS cosine
       FROM e CROSS JOIN a
       WHERE e.neg_id <> a.anchor_id AND e.nl <> a.al ),
r AS ( SELECT anchor_id, neg_id, cosine,
              CAST(row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, neg_id ASC) AS INT) AS rank
       FROM q WHERE cosine < {_HN_DUP} )
SELECT anchor_id, neg_id, cosine, rank FROM r
WHERE rank <= {_HN_K}
ORDER BY anchor_id, rank
""".strip()


_COS_HN = """
CAST(round(
  list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * a.v[i]))
  / ( sqrt(list_sum(list_transform(e.v, x -> x * x)))
    * sqrt(list_sum(list_transform(a.v, x -> x * x)))), 6) AS DOUBLE)
""".strip()


# ---------------------------------------------------------------------------
# tf_legacy_stems — dutch_stem / french_stem / russian_stem filter names
# ---------------------------------------------------------------------------
# The reference registers fixed-language stem filters that wrap
# SnowballFilter with a SetKeywordMarkerFilter(stem_exclusion)
# (DutchStemTokenFilterFactory.java, FrenchStemTokenFilterFactory.java,
# RussianStemTokenFilterFactory.java — all in modules/analysis-common).
# Goldens are the outputs of this repo's snowball stemmers, which are
# themselves gated against published snowballstem.org sample vectors
# (stem_french / stem_russian etc. entries); this entry proves the
# legacy NAME routing, the chain mechanics through the executor
# Arrow-UDF path, and that stem_exclusion protects a term.

_LEGACY_CHAINS = [
    # (probe id, analyzer name, settings, text)
    (0, "an_dutch_stem_legacy",
     {"tokenizer": "whitespace",
      "filter": ["lowercase",
                 {"type": "dutch_stem", "stem_exclusion": ["koninginnen"]}]},
     "Lichamelijke koninginnen overgegaan"),
    (1, "an_french_stem_legacy",
     {"tokenizer": "whitespace", "filter": ["lowercase", "french_stem"]},
     "Continuellement majestueusement continuité"),
    (2, "an_russian_stem_legacy",
     {"tokenizer": "whitespace", "filter": ["lowercase", "russian_stem"]},
     "Впечатление величайших вагоне"),
]
_LEGACY_GOLDENS = [
    (0, "licham", 0), (0, "koninginnen", 1), (0, "overgegan", 2),
    (1, "continuel", 0), (1, "majestu", 1), (1, "continu", 2),
    (2, "впечатлен", 0), (2, "величайш", 1), (2, "вагон", 2),
]


def q_tf_legacy_stems(spark, sf_dir):
    """Legacy fixed-language stem filters (dutch_stem/french_stem/
    russian_stem) through the executor chain; dutch leg also exercises
    stem_exclusion keyword protection."""
    from functools import reduce
    import pyspark.sql.functions as F
    from sparksearch.analysis_custom import get_custom, register_analyzer
    from sparksearch.build import tokenize_udf
    outs = []
    for pid, an_name, settings, text in _LEGACY_CHAINS:
        if get_custom(an_name) is None:
            register_analyzer(an_name, settings)
        df = spark.createDataFrame([(text,)], "text string")
        tok = df.withColumn("_t", tokenize_udf(an_name)(F.col("text")))
        outs.append(tok.select(
            F.lit(pid).alias("probe"),
            F.explode(F.arrays_zip("_t.terms", "_t.poss")).alias("tp"))
            .select("probe", F.col("tp.terms").alias("term"),
                    F.col("tp.poss").cast("int").alias("pos")))
    return (reduce(lambda a, b: a.unionAll(b), outs)
            .orderBy("probe", "pos", "term"))


def sql_tf_legacy_stems() -> str:
    from sparksearch.contract_round3b import _sql_goldens
    return _sql_goldens(_LEGACY_GOLDENS)


# ---------------------------------------------------------------------------
# tf_pattern_replace — pattern_replace TOKEN filter (replaceAll + $N refs)
# ---------------------------------------------------------------------------
# PatternReplaceTokenFilterFactory: per-token regex rewrite, Java $N
# group references, all=true default. Goldens hand-derived: replaceAll
# scans left-to-right over the original term, so "10-20-30" rewrites the
# first pair and leaves the dangling "-30" ("20_10-30").

_PR_SETTINGS = {"tokenizer": "whitespace",
                "filter": [{"type": "pattern_replace",
                            "pattern": r"(\d+)-(\d+)",
                            "replacement": "$2_$1"},
                           "lowercase"]}
_PR_PROBES = [(0, "AB 12-34 cd"), (1, "x-9 7-7 10-20-30")]
_PR_GOLDENS = [
    (0, "ab", 0), (0, "34_12", 1), (0, "cd", 2),
    (1, "x-9", 0), (1, "7_7", 1), (1, "20_10-30", 2),
]


def q_tf_pattern_replace(spark, sf_dir):
    from sparksearch.contract_round3d import _q_filter_goldens
    return _q_filter_goldens(
        "an_pattern_replace_tf", _PR_SETTINGS, _PR_PROBES,
        "pattern_replace token filter vs hand-derived goldens "
        "(PatternReplaceTokenFilterFactory, Java $N replacement refs)")(
        spark, sf_dir)


def sql_tf_pattern_replace() -> str:
    from sparksearch.contract_round3b import _sql_goldens
    return _sql_goldens(_PR_GOLDENS)


# ---------------------------------------------------------------------------
# analyze_explain — _analyze with explain:true (DetailAnalyzeResponse)
# ---------------------------------------------------------------------------
# TransportAnalyzeAction.detailAnalyze: the char-filtered text after each
# char filter, the tokenizer stream, then the stream after EACH token
# filter; inline specs named __anonymous__<type> (AnalysisRegistry.java:156).
# Flattened to (stage, name, term, pos) rows — stage 0 rows carry the
# char-filtered TEXT with pos=-1; stage 1 is the tokenizer; 2.. the
# filters. Runs executor-side (analyzer object shipped in the mapInPandas
# closure, same mechanism as the build path's tokenize_udf).

_EXPL_SETTINGS = {
    "char_filter": [{"type": "pattern_replace", "pattern": "-",
                     "replacement": " "}],
    "tokenizer": "whitespace",
    "filter": ["lowercase", {"type": "stop", "stopwords": ["the"]},
               "porter_stem"]}
_EXPL_TEXT = "The Quick-Running foxes"
_EXPL_GOLDENS = [
    (0, "__anonymous__pattern_replace", "The Quick Running foxes", -1),
    (1, "whitespace", "The", 0), (1, "whitespace", "Quick", 1),
    (1, "whitespace", "Running", 2), (1, "whitespace", "foxes", 3),
    (2, "lowercase", "the", 0), (2, "lowercase", "quick", 1),
    (2, "lowercase", "running", 2), (2, "lowercase", "foxes", 3),
    (3, "__anonymous__stop", "quick", 1),
    (3, "__anonymous__stop", "running", 2),
    (3, "__anonymous__stop", "foxes", 3),
    (4, "porter_stem", "quick", 1), (4, "porter_stem", "run", 2),
    (4, "porter_stem", "fox", 3),
]


def q_analyze_explain(spark, sf_dir):
    """_analyze?explain=true detail stages, flattened, executor-side."""
    import pandas as pd
    from sparksearch.analysis_custom import CustomAnalyzer
    an = CustomAnalyzer(_EXPL_SETTINGS)

    def run(batches):
        for pdf in batches:
            rows = []
            for text in pdf["text"]:
                d = an.analyze_detail(text)
                st = 0
                for cf in d["charfilters"]:
                    rows.append((st, cf["name"],
                                 cf["filtered_text"][0], -1))
                st += 1
                for t in d["tokenizer"]["tokens"]:
                    rows.append((st, d["tokenizer"]["name"],
                                 t.term, t.pos))
                for tf in d["tokenfilters"]:
                    st += 1
                    for t in tf["tokens"]:
                        rows.append((st, tf["name"], t.term, t.pos))
            yield pd.DataFrame(rows,
                               columns=["stage", "name", "term", "pos"])

    df = spark.createDataFrame([(_EXPL_TEXT,)], "text string")
    return (df.mapInPandas(run,
                           "stage int, name string, term string, pos int")
            .orderBy("stage", "pos", "term"))


def sql_analyze_explain() -> str:
    vals = ", ".join(
        "({}, '{}', '{}', {})".format(s, n, t.replace("'", "''"), p)
        for s, n, t, p in _EXPL_GOLDENS)
    return f"""
SELECT CAST(stage AS INT) AS stage, name, term, CAST(pos AS INT) AS pos
FROM (VALUES {vals}) AS v(stage, name, term, pos)
ORDER BY stage, pos, term
""".strip()


# ---------------------------------------------------------------------------
# index_templates — composable v2 template resolution + simulate
# ---------------------------------------------------------------------------
# MetadataIndexTemplateService: findV2Template (glob match, max priority),
# resolveSettings/collectMappings (composed_of order, own block last),
# _simulate_index overlapping report. Goldens hand-derived from those
# rules; the fixture exercises component override order, deep mapping
# merge, priority win, and the lower-priority overlap listing.

_TPL_GOLDENS = [
    # (index, kind, key, value)
    ("logs-2026.08", "winner", "", "logs"),
    ("logs-2026.08", "setting", "index.number_of_shards", "8"),
    ("logs-2026.08", "setting", "index.refresh_interval", "30s"),
    ("logs-2026.08", "setting", "index.number_of_replicas", "2"),
    ("logs-2026.08", "prop", "url.type", "keyword"),
    ("logs-2026.08", "prop", "text.type", "text"),
    ("logs-2026.08", "prop", "text.analyzer", "english"),
    ("logs-2026.08", "prop", "lang.type", "keyword"),
    ("logs-2026.08", "prop", "warc_ts.type", "date"),
    ("logs-2026.08", "overlap", "catchall", ""),
    ("logs-archive-1", "winner", "", "logs_archive"),
    ("logs-archive-1", "setting", "index.number_of_shards", "1"),
    ("logs-archive-1", "overlap", "catchall", ""),
    ("logs-archive-1", "overlap", "logs", ""),
    ("web", "winner", "", "catchall"),
]


def _tpl_fixture_registry() -> str:
    import os
    import tempfile
    from sparksearch import templates as T
    path = os.path.join(tempfile.gettempdir(), "sparksearch_tpl_gate.json")
    if os.path.exists(path):
        os.unlink(path)
    T.put_component_template(path, "ct_base", {"template": {
        "settings": {"index.number_of_shards": "8",
                     "index.refresh_interval": "1s"},
        "mappings": {"properties": {
            "url": {"type": "keyword"},
            "text": {"type": "text", "analyzer": "standard"}}}}})
    T.put_component_template(path, "ct_tuning", {"template": {
        "settings": {"index.refresh_interval": "30s"},
        "mappings": {"properties": {
            "text": {"analyzer": "english"},
            "lang": {"type": "keyword"}}}}})
    T.put_index_template(path, "logs", {
        "index_patterns": ["logs-*"], "priority": 10,
        "composed_of": ["ct_base", "ct_tuning"],
        "template": {
            "settings": {"index.number_of_replicas": "2"},
            "mappings": {"properties": {"warc_ts": {"type": "date"}}}}})
    T.put_index_template(path, "logs_archive", {
        "index_patterns": ["logs-archive-*"], "priority": 20,
        "template": {"settings": {"index.number_of_shards": "1"}}})
    T.put_index_template(path, "catchall", {
        "index_patterns": ["*"], "priority": 0})
    return path


def q_index_templates(spark, sf_dir):
    """simulate_index over three index names, flattened to (index, kind,
    key, value) rows — winner, resolved settings, flattened mapping
    properties, and the overlapping-template report."""
    from sparksearch import templates as T
    path = _tpl_fixture_registry()
    rows = []
    for idx in ("logs-2026.08", "logs-archive-1", "web"):
        sim = T.simulate_index(path, idx)
        rows.append((idx, "winner", "", sim["matched_template"] or ""))
        if sim["template"] is None:
            continue
        for k, v in sim["template"]["settings"].items():
            rows.append((idx, "setting", k, str(v)))
        for fld, spec in sim["template"]["mappings"].get(
                "properties", {}).items():
            for pk, pv in spec.items():
                rows.append((idx, "prop", f"{fld}.{pk}", str(pv)))
        for o in sim["overlapping"]:
            rows.append((idx, "overlap", o, ""))
    return (spark.createDataFrame(
        rows, "index string, kind string, key string, value string")
        .orderBy("index", "kind", "key", "value"))


def sql_index_templates() -> str:
    vals = ", ".join(
        "('{}', '{}', '{}', '{}')".format(i, k, key, v)
        for i, k, key, v in _TPL_GOLDENS)
    return f"""
SELECT "index", kind, key, value
FROM (VALUES {vals}) AS v("index", kind, key, value)
ORDER BY "index", kind, key, value
""".strip()


# ---------------------------------------------------------------------------
# data_stream_search — data stream over two backing generations
# ---------------------------------------------------------------------------
# DataStream.java: ".ds-<name>-%06d" backing indices, rollover appends
# the next write index; searches span every backing index with
# DFS-aggregated statistics, so BM25 equals ONE unified index over the
# same documents — which is exactly what the oracle computes (match_sql
# over the full corpus), with _index derived from the even/odd doc_id
# split that routed each page to its generation. Query term 'dup' is the
# corpus's rarest (df=25 at sf0.01) and k=50 returns the COMPLETE match
# set, so no top-k boundary tie sensitivity.

_DS_STATE: dict = {}


def _ds_fixture(spark, sf_dir: str):
    import os
    import shutil
    import tempfile
    from sparksearch import contract as C
    from sparksearch import datastreams as DS
    from sparksearch import templates as T
    key = os.path.realpath(sf_dir)
    if key in _DS_STATE:
        return _DS_STATE[key]
    root = os.path.join(tempfile.gettempdir(),
                        "sparksearch_ds_" + key.strip("/").replace("/", "_"))
    ds_path = os.path.join(root, "datastreams.json")
    tpl_path = os.path.join(root, "templates.json")
    if not all(C.current_meta(os.path.join(
            root, DS.backing_index_name("weblogs", g))) is not None
            for g in (1, 2)):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        T.put_index_template(tpl_path, "weblogs_tpl", {
            "index_patterns": ["weblogs*"], "priority": 10,
            "data_stream": {"timestamp_field": {"name": "warc_ts"}}})
        DS.create_data_stream(ds_path, tpl_path, "weblogs", root)
        pages = C.pages_df(spark, sf_dir)
        parity = (F.substring("url", -8, 8).cast("int") % 2)
        DS.data_stream_write(spark, ds_path, "weblogs",
                             pages.where(parity == 0),
                             n_buckets=4, partitions=4)
        DS.data_stream_rollover(ds_path, "weblogs")
        DS.data_stream_write(spark, ds_path, "weblogs",
                             pages.where(parity == 1),
                             n_buckets=4, partitions=4)
    _DS_STATE[key] = ds_path
    return ds_path


def q_data_stream_search(spark, sf_dir):
    from sparksearch import datastreams as DS
    from sparksearch.queries import Match
    ds_path = _ds_fixture(spark, sf_dir)
    res = DS.data_stream_search(spark, ds_path, "weblogs",
                                Match("text", "dup"), k=50)
    return (res.select(F.col("_index").alias("backing"), "url",
                       F.round("score", 4).alias("score"))
            .orderBy(F.col("score").desc(), "url"))


def sql_data_stream_search() -> str:
    from sparksearch import contract as C
    g1 = "'.ds-weblogs-000001'"
    g2 = "'.ds-weblogs-000002'"
    return f"""
SELECT CASE WHEN CAST(substr(m.url, length(m.url) - 7) AS INT) % 2 = 0
            THEN {g1} ELSE {g2} END AS backing,
       m.url, m.score
FROM ( {C.match_sql('dup', k=50)} ) m
ORDER BY m.score DESC, m.url
""".strip()


# ---------------------------------------------------------------------------
# ingest_declarative — JSON pipeline through the declarative compiler
# ---------------------------------------------------------------------------
# The round-1/3 ingest entries hand-wrote the column chains; this one
# feeds the SAME processor semantics through the _ingest/pipeline JSON
# compiler (sparksearch/ingest.py): grok with a typed capture, bytes,
# set copy_from + gsub, and a Painless script assignment — all compiled
# to pure Catalyst. Oracle unrolls each processor's definition in SQL.

_DECL_PIPELINE = {"processors": [
    {"grok": {"field": "_log",
              "patterns": ["%{WORD:g_type} user=%{INT:g_user:long} "
                           "k=%{GREEDYDATA:g_k}"]}},
    {"bytes": {"field": "_sz", "target_field": "sz_b"}},
    {"set": {"field": "e_vowel", "copy_from": "event_type"}},
    {"gsub": {"field": "e_vowel", "pattern": "[aeiou]",
              "replacement": "*"}},
    {"script": {"source": "ctx.vx = ctx.value * 2 + 1"}},
]}


def q_ingest_declarative(spark, sf_dir):
    from sparksearch.ingest import run_pipeline
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    staged = (ev
              .withColumn("_log", F.concat(
                  F.col("event_type"), F.lit(" user="),
                  F.col("user_id").cast("string"), F.lit(" k="),
                  F.get_json_object("props", "$.k")))
              .withColumn("_sz", F.concat(
                  (F.col("user_id") % 50).cast("string"), F.lit("kb"))))
    out = run_pipeline(staged, _DECL_PIPELINE)
    return (out.select("event_id", "g_type", "g_user", "g_k", "sz_b",
                       "e_vowel",
                       F.round("vx", 6).alias("vx"))
            .orderBy("event_id"))


def sql_ingest_declarative() -> str:
    return r"""
SELECT event_id,
       regexp_extract(event_type || ' user=' || CAST(user_id AS VARCHAR)
                      || ' k=' || (props ->> '$.k'),
                      '^(\w+) user=', 1) AS g_type,
       user_id AS g_user,
       props ->> '$.k' AS g_k,
       (user_id % 50) * 1024 AS sz_b,
       regexp_replace(event_type, '[aeiou]', '*', 'g') AS e_vowel,
       round(value * 2 + 1, 6) AS vx
FROM events
ORDER BY event_id
""".strip()


# ---------------------------------------------------------------------------
# indices_boost — per-index score multiplier before the cross-index merge
# ---------------------------------------------------------------------------
# SearchRequest.indicesBoost: the query phase multiplies each index's
# scores by its matching boost before the coordinator merge. Gate: the
# data-stream fixture's generation-1 backing index boosted ×2 under DFS
# stats — oracle doubles the unified-corpus BM25 score of exactly the
# even-doc_id rows (which the fixture routed to generation 1). Per-leg
# scores are rounded to 4 decimals BEFORE the ×2 on both sides, so the
# doubling is float-exact.

def q_indices_boost(spark, sf_dir):
    from sparksearch import datastreams as DS
    from sparksearch.queries import Match
    ds_path = _ds_fixture(spark, sf_dir)

    def rounded(gx, qq, kk):
        return (gx.search(qq, k=kk, fetch=True, mode="plan")
                .withColumn("score", F.round("score", 4)))

    res = DS.data_stream_search(
        spark, ds_path, "weblogs", Match("text", "dup"), k=50,
        search_fn=rounded,
        indices_boost=[{".ds-weblogs-000001": 2.0}])
    return (res.select(F.col("_index").alias("backing"), "url", "score")
            .orderBy(F.col("score").desc(), "url"))


def sql_indices_boost() -> str:
    from sparksearch import contract as C
    return f"""
SELECT CASE WHEN CAST(substr(m.url, length(m.url) - 7) AS INT) % 2 = 0
            THEN '.ds-weblogs-000001' ELSE '.ds-weblogs-000002' END
         AS backing,
       m.url,
       CASE WHEN CAST(substr(m.url, length(m.url) - 7) AS INT) % 2 = 0
            THEN m.score * 2 ELSE m.score END AS score
FROM ( {C.match_sql('dup', k=50)} ) m
ORDER BY score DESC, m.url
""".strip()


# ---------------------------------------------------------------------------
# agg_date_histogram_tz — time_zone-aligned date_histogram buckets
# ---------------------------------------------------------------------------
# DateHistogramAggregationBuilder with time_zone: buckets align to LOCAL
# day boundaries in the zone; keys stay the UTC instant of the zoned
# bucket start. Fixed offset +05:30 keeps the oracle's interval
# arithmetic exact (no DST) while shifting every day boundary, so the
# bucket layout provably differs from the UTC histogram.

def q_agg_date_histogram_tz(spark, sf_dir):
    from sparksearch.aggs import date_histogram
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return date_histogram(ev, "ts", "day", time_zone="+05:30")


def sql_agg_date_histogram_tz() -> str:
    return """
SELECT date_trunc('day', ts + INTERVAL 330 MINUTE)
         - INTERVAL 330 MINUTE AS key,
       count(*) AS doc_count
FROM events GROUP BY 1 ORDER BY key
""".strip()


# ---------------------------------------------------------------------------
# agg_date_histogram_empty — min_doc_count=0 empty-bucket fill
# ---------------------------------------------------------------------------
# DateHistogramAggregationBuilder minDocCount(0): zero buckets emitted
# for every interval step between the observed extent. The fixture
# filters out four specific days (day-of-month % 7 == 3) so the fill is
# provably exercised; the oracle generates the same spine with
# generate_series and left-joins the counts.

def q_agg_date_histogram_empty(spark, sf_dir):
    from sparksearch.aggs import date_histogram
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.dayofmonth("ts") % 7 != 3))
    return date_histogram(ev, "ts", "day", min_doc_count=0)


def sql_agg_date_histogram_empty() -> str:
    return """
WITH f AS ( SELECT * FROM events WHERE day(ts) % 7 <> 3 ),
g AS ( SELECT date_trunc('day', ts) AS key, count(*) AS doc_count
       FROM f GROUP BY 1 ),
spine AS ( SELECT unnest(generate_series(
             (SELECT min(key) FROM g), (SELECT max(key) FROM g),
             INTERVAL 1 DAY)) AS key )
SELECT s.key, COALESCE(g.doc_count, 0) AS doc_count
FROM spine s LEFT JOIN g USING (key)
ORDER BY s.key
""".strip()


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict:
    return {"ip_v6_range": q_ip_v6_range,
            "completion_regex_alt": q_completion_regex_alt,
            "painless_methods": q_painless_methods,
            "knn_ivfpq_trained": q_knn_ivfpq_trained,
            "percolate_many": q_percolate_many,
            "stem_greek": q_stem_greek,
            "highlight_fvh": q_highlight_fvh,
            "dynamic_mapping": q_dynamic_mapping,
            "hard_negative_mining": q_hard_negatives,
            "highlight_fvh_phrase": q_highlight_fvh_phrase,
            "tk_thai": q_tk_thai,
            "tf_legacy_stems": q_tf_legacy_stems,
            "tf_pattern_replace": q_tf_pattern_replace,
            "analyze_explain": q_analyze_explain,
            "index_templates": q_index_templates,
            "data_stream_search": q_data_stream_search,
            "ingest_declarative": q_ingest_declarative,
            "indices_boost": q_indices_boost,
            "agg_date_histogram_tz": q_agg_date_histogram_tz,
            "agg_date_histogram_empty": q_agg_date_histogram_empty}


def oracle_sql() -> dict:
    return {"ip_v6_range": sql_ip_v6_range(),
            "completion_regex_alt": sql_completion_regex_alt(),
            "painless_methods": sql_painless_methods(),
            "knn_ivfpq_trained": sql_knn_ivfpq_trained(),
            "percolate_many": sql_percolate_many(),
            "stem_greek": sql_stem_greek(),
            "highlight_fvh": sql_highlight_fvh(),
            "dynamic_mapping": sql_dynamic_mapping(),
            "hard_negative_mining": sql_hard_negatives(),
            "highlight_fvh_phrase": sql_highlight_fvh_phrase(),
            "tk_thai": sql_tk_thai(),
            "tf_legacy_stems": sql_tf_legacy_stems(),
            "tf_pattern_replace": sql_tf_pattern_replace(),
            "analyze_explain": sql_analyze_explain(),
            "index_templates": sql_index_templates(),
            "data_stream_search": sql_data_stream_search(),
            "ingest_declarative": sql_ingest_declarative(),
            "indices_boost": sql_indices_boost(),
            "agg_date_histogram_tz": sql_agg_date_histogram_tz(),
            "agg_date_histogram_empty": sql_agg_date_histogram_empty()}
