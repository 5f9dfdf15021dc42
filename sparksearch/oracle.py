"""Single-node reference engine (pure Python/NumPy) for rank-identity tests.

Implements the exact analyze → index → BM25 top-k semantics the Spark engine
must reproduce (SURVEY.md §5): same analyzer, same SmallFloat-quantized doc
lengths, same global statistics (DFS semantics), same Lucene scoring
(bm25.py), same tie-break (score desc, docid asc). Every Spark query result
is asserted rank-identical (docids) against this, and match / exact-phrase
scores are == (both sides score with the bm25.py kernel).

Scoring semantics implemented (matching Lucene BooleanQuery/PhraseQuery as
configured by the reference):
  - match OR  : union of term postings, scores summed over matching terms
  - match AND : intersection, scores summed
  - bool      : must (AND, scored) + filter (AND, unscored) + should
                (scored, optional unless msm) + must_not (excluded);
                pure-negative gets implicit match_all (score 0 contributions,
                constant 0 + should handling per BoolQueryBuilder.java:85)
  - phrase    : pseudo-term with tf = exact phrase frequency (slop 0:
                consecutive positions), idf = sum of member-term idfs
  - term/terms/range/exists/prefix/ids on metadata fields: filters
                (constant score 0 contribution here; reference scores term
                queries with BM25 too when scored — we score text-field term
                queries identically to a single-term match)
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from sparksearch import bm25
from sparksearch.analysis import analyze
from sparksearch.norms import quantize_length
from sparksearch.queries import (
    Bool, Exists, Ids, Match, MatchAll, MatchNone, MatchPhrase, Prefix,
    Query, Range, Term, Terms, calculate_min_should_match,
)

__all__ = ["OracleIndex"]


@dataclass
class _Posting:
    tf: int
    positions: list


class OracleIndex:
    """In-memory inverted index over a list of documents.

    docs: list of dicts with at least the analyzed text field; docid = list
    index (caller orders docs by url — the deterministic global docid).
    """

    def __init__(self, docs: list[dict], text_field: str = "text",
                 analyzer: str = "standard"):
        self.docs = docs
        self.text_field = text_field
        self.analyzer = analyzer
        self.n_docs = len(docs)
        self.postings: dict[str, dict[int, _Posting]] = {}
        self.doc_len: list[int] = []
        total_tf = 0
        for docid, doc in enumerate(docs):
            toks = analyze(doc.get(text_field) or "", analyzer)
            self.doc_len.append(len(toks))
            total_tf += len(toks)
            for term, pos in toks:
                plist = self.postings.setdefault(term, {})
                p = plist.get(docid)
                if p is None:
                    plist[docid] = _Posting(1, [pos])
                else:
                    p.tf += 1
                    p.positions.append(pos)
        self.avgdl = (total_tf / self.n_docs) if self.n_docs else 1.0
        self.dl_q = [float(quantize_length(dl)) for dl in self.doc_len]

    # -- statistics --------------------------------------------------------
    def df(self, term: str) -> int:
        return len(self.postings.get(term, {}))

    def _term_scores(self, term: str) -> dict[int, float]:
        plist = self.postings.get(term)
        if not plist:
            return {}
        w = bm25.weight(len(plist), self.n_docs)
        return {d: w * bm25.tfn(float(p.tf), self.dl_q[d], self.avgdl)
                for d, p in plist.items()}

    def _phrase_freq(self, terms: list[str], docid: int) -> int:
        """Exact (slop 0) phrase frequency using positions."""
        plists = []
        for t in terms:
            p = self.postings.get(t, {}).get(docid)
            if p is None:
                return 0
            plists.append(set(p.positions))
        first = sorted(self.postings[terms[0]][docid].positions)
        return sum(
            1 for p0 in first
            if all((p0 + i) in plists[i] for i in range(1, len(terms)))
        )

    def _sloppy_freq(self, terms: list[str], docid: int, slop: int) -> float:
        """Sloppy phrase frequency: for each anchor position p0 of terms[0],
        d = Σ_i min over positions p_i of |p_i - (p0 + i)|; an anchor with
        d ≤ slop contributes weight 1/(1+d) (Lucene sloppyFreq analogue)."""
        plists = []
        for t in terms:
            p = self.postings.get(t, {}).get(docid)
            if p is None:
                return 0.0
            plists.append(sorted(p.positions))
        spf = 0.0
        for p0 in plists[0]:
            d = 0
            for i in range(1, len(terms)):
                d += min(abs(pi - (p0 + i)) for pi in plists[i])
                if d > slop:
                    break
            if d <= slop:
                spf += 1.0 / (1.0 + d)
        return spf

    # -- evaluation: query -> {docid: score} | None=all docs ---------------
    def _eval(self, q: Query, scored: bool = True) -> dict[int, float]:
        if isinstance(q, MatchAll):
            # MatchAllDocsQuery scores a constant 1.0 in the reference
            return {d: (1.0 if scored else 0.0) for d in range(self.n_docs)}
        if isinstance(q, MatchNone):
            return {}
        if isinstance(q, Match):
            terms = [t for t, _ in analyze(q.text, q.analyzer or self.analyzer)]
            if not terms:
                return {}  # zero_terms_query NONE
            if q.operator == "and":
                msm = len(terms)
            else:
                msm = calculate_min_should_match(
                    len(terms), q.minimum_should_match, has_required=False)
            qcnt = Counter(terms)
            per_doc: dict[int, dict[str, float]] = {}
            for t in qcnt:
                for d, s in self._term_scores(t).items():
                    per_doc.setdefault(d, {})[t] = s
            return {d: bm25.combine(qcnt, ts) if scored else 0.0
                    for d, ts in per_doc.items()
                    if sum(qcnt[t] for t in ts) >= msm}
        if isinstance(q, MatchPhrase):
            terms = [t for t, _ in analyze(q.text, q.analyzer or self.analyzer)]
            if not terms:
                return {}
            if len(terms) == 1:
                return self._eval(Match(q.field_name, q.text, analyzer=q.analyzer), scored)
            w = bm25.phrase_weight([self.df(t) for t in sorted(terms)],
                                   self.n_docs)
            out = {}
            cand = self.postings.get(terms[0], {})
            for d in cand:
                pf = (self._phrase_freq(terms, d) if q.slop == 0
                      else self._sloppy_freq(terms, d, q.slop))
                if pf > 0:
                    out[d] = (w * bm25.tfn(float(pf), self.dl_q[d],
                                           self.avgdl)
                              if scored else 0.0)
            return out
        if isinstance(q, (Term, Terms, Range, Exists, Prefix, Ids)):
            return self._eval_filter(q)
        if isinstance(q, Bool):
            return self._eval_bool(q, scored)
        raise TypeError(f"unsupported query: {q!r}")

    def _eval_filter(self, q: Query) -> dict[int, float]:
        out = {}
        for d, doc in enumerate(self.docs):
            if isinstance(q, Term):
                ok = doc.get(q.field_name) == q.value
            elif isinstance(q, Terms):
                ok = doc.get(q.field_name) in q.values
            elif isinstance(q, Exists):
                ok = doc.get(q.field_name) is not None
            elif isinstance(q, Prefix):
                v = doc.get(q.field_name)
                ok = isinstance(v, str) and v.startswith(q.value)
            elif isinstance(q, Ids):
                ok = doc.get("url") in q.values
            elif isinstance(q, Range):
                v = doc.get(q.field_name)
                ok = v is not None
                if ok and q.gte is not None:
                    ok = v >= q.gte
                if ok and q.gt is not None:
                    ok = v > q.gt
                if ok and q.lte is not None:
                    ok = v <= q.lte
                if ok and q.lt is not None:
                    ok = v < q.lt
            else:
                raise TypeError(q)
            if ok:
                out[d] = 0.0
        return out

    def _eval_bool(self, q: Bool, scored: bool) -> dict[int, float]:
        must, should, must_not, filt = q.must, q.should, q.must_not, q.filter
        if not must and not should and not filt and must_not:
            must = [MatchAll()]  # pure-negative fix
        required = [self._eval(c, scored) for c in must]
        required += [self._eval(c, scored=False) for c in filt]
        optional = [self._eval(c, scored) for c in should]
        excluded = [self._eval(c, scored=False) for c in must_not]

        if required:
            docs = set(required[0])
            for r in required[1:]:
                docs &= set(r)
        elif optional:
            docs = set()
            for o in optional:
                docs |= set(o)
        else:
            docs = set(range(self.n_docs))
        for e in excluded:
            docs -= set(e)

        msm = calculate_min_should_match(
            len(optional), q.minimum_should_match, has_required=bool(required))
        out = {}
        for d in docs:
            n_opt = sum(1 for o in optional if d in o)
            if n_opt < msm:
                continue
            s = sum(r.get(d, 0.0) for r in required)
            s += sum(o[d] for o in optional if d in o)
            out[d] = s
        return out

    # -- public API ---------------------------------------------------------
    def search(self, q: Query, k: int = 10) -> list[tuple[int, float]]:
        """Top-k (docid, score), score desc then docid asc."""
        scores = self._eval(q, scored=True)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]
