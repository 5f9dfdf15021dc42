"""Property tests for the round-4 byte-level codecs: any input text must
round-trip (PDF, WARC) or at least never crash (metaphone, icu word
break, attachment sniff/extract)."""

from hypothesis import example, given, settings, strategies as st

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400)


@settings(max_examples=150, deadline=None)
@given(TEXT)
@example("ET")
def test_pdf_roundtrip_any_text(t):
    from sparksearch.attachments import make_pdf, pdf_extract
    content, title = pdf_extract(make_pdf(t, title="T"))
    assert content == t.strip()
    assert title == "T"


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(
    st.integers(0, 10**6),
    st.binary(max_size=300)), max_size=8),
    st.booleans())
def test_warc_roundtrip_any_payload(recs, compress):
    from sparksearch.warc import make_warc, warc_pages
    triples = [(f"https://h.example/p/{i}-{n}",
                "2025-01-01T00:00:01Z", body)
               for n, (i, body) in enumerate(recs)]
    out = warc_pages(make_warc(triples, compress=compress))
    assert [(r["url"], r["html"]) for r in out] == \
        [(u, h) for u, _, h in triples]


@settings(max_examples=300, deadline=None)
@given(TEXT)
def test_metaphone_total_and_bounded(t):
    from sparksearch.filters_ext import _metaphone
    code = _metaphone(t)
    assert len(code) <= 4
    assert all(c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ0" for c in code)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_icu_tokenizer_total(t):
    from sparksearch.tokenizers_ext import icu_tokenizer
    toks = icu_tokenizer({})(t)
    # every emitted token is a non-empty substring-composed piece
    assert all(tok for tok in toks)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=600))
def test_attachment_extract_total(data):
    from sparksearch.attachments import extract_attachment
    r = extract_attachment(data)
    assert set(r) == {"content", "content_type", "content_length", "title"}
    assert r["content_length"] == len(r["content"])


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_robots_parser_total(content):
    from sparksearch.robots import parse_robots
    rules = parse_robots(content, "anybot")
    assert all(isinstance(p, str) and isinstance(a, bool)
               for p, a in rules)
