"""Property-based tests (hypothesis) for the norms / analyzer / msm layers —
the reference's randomized-testing idiom (SURVEY §5: Lucene's
RandomizedRunner exercises codecs with generated inputs; the equivalents
here pin SmallFloat norm monotonicity, analyzer invariants, and
minimum_should_match arithmetic against generated inputs instead of fixed
goldens). The posting-block round trip is a seeded Spark test in
tests/test_segments.py."""

from hypothesis import given, settings
from hypothesis import strategies as st

from sparksearch.norms import byte4_to_int, int_to_byte4, quantize_length


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=2**30))
def test_norms_quantization_properties(dl):
    """SmallFloat byte4: decode(encode(x)) <= x (never inflates a doc
    length), monotone non-decreasing, and exact for the 4-bit range
    (≤ 16)."""
    b = int_to_byte4(dl)
    q = byte4_to_int(b)
    assert 0 <= b <= 255
    assert q <= dl
    assert q == quantize_length(dl)
    if dl <= 16:
        assert q == dl
    b2 = int_to_byte4(dl + 1)
    assert b2 >= b


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=64),
       st.integers(min_value=-100, max_value=100))
def test_msm_int_semantics(n, msm):
    """Queries.calculateMinShouldMatch integer semantics
    (sv/common/lucene/search/Queries.java:138-192): negative = n-|msm|,
    floor 0, NO upper clamp — msm > n is deliberately unsatisfiable
    (BooleanQuery semantics)."""
    from sparksearch.queries import calculate_min_should_match
    got = calculate_min_should_match(n, msm, has_required=False)
    expected = max(0, n + msm if msm < 0 else msm)
    assert got == expected


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=64),
       st.integers(min_value=0, max_value=100))
def test_msm_percent_semantics(n, pct):
    from sparksearch.queries import calculate_min_should_match
    got = calculate_min_should_match(n, f"{pct}%", has_required=False)
    expected = (pct * n) // 100
    assert got == expected


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_analyzer_terms_are_lowercase_nonempty(text):
    """Standard analyzer invariants: every emitted term is non-empty,
    lowercase, and positions strictly increase."""
    from sparksearch.analysis import analyze
    toks = analyze(text, "standard")
    last = -1
    for t in toks:
        assert t.term and t.term == t.term.lower()
        assert t.pos > last
        last = t.pos


@given(st.text(alphabet=st.characters(min_codepoint=ord("a"),
                                      max_codepoint=0x17F),
               min_size=1, max_size=24))
@settings(max_examples=300, deadline=None)
def test_stemmers_total_and_bounded(word):
    """Every registered stemmer is total over Latin-ish words: returns a
    str, never crashes, and never grows the word by more than the
    largest replacement delta (+2 chars covers ksi/ist-style rewrites)."""
    from sparksearch.stemmers import LANGUAGE_STEMMERS
    w = word.lower()
    for lang, fn in LANGUAGE_STEMMERS.items():
        out = fn(w)
        assert isinstance(out, str), lang
        assert len(out) <= len(w) + 2, (lang, w, out)


@given(st.text(min_size=0, max_size=32))
@settings(max_examples=200, deadline=None)
def test_cologne_output_is_digits(s):
    from sparksearch.filters_ext import _cologne
    out = _cologne(s)
    assert all(c in "0123456789" for c in out)
    # non-leading zeros never survive
    assert "0" not in out[1:]


@given(st.text(alphabet="aeıioöuübcçdfgğhjklmnprsştvyz",
               min_size=3, max_size=20))
@settings(max_examples=300, deadline=None)
def test_turkish_stem_is_prefix_up_to_final_consonant(word):
    """The Turkish stemmer only removes suffixes; apart from the final
    devoicing-reversal letter the stem is a prefix of the input."""
    from sparksearch.snowball2 import turkish_snowball_stem
    out = turkish_snowball_stem(word)
    assert len(out) <= len(word)
    if out:
        assert word.startswith(out[:-1])


@given(st.text(alphabet=st.characters(min_codepoint=0x3B1,
                                      max_codepoint=0x3C9),
               min_size=0, max_size=24))
@settings(max_examples=300, deadline=None)
def test_greek_stem_total_and_shrinking(word):
    """greek_stem is total over Greek-alphabet tokens and never grows a
    word: every rule's re-appended suffix is shorter than what it
    stripped (Ntais tables)."""
    from sparksearch.greekstem import greek_stem
    out = greek_stem(word)
    assert isinstance(out, str)
    assert len(out) <= len(word)
    if len(word) < 4:
        assert out == word


@given(st.text(min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_dynamic_string_typing_total(s):
    """dynamic_type_of_string is total over arbitrary text and returns
    only the four legal types under any detection flags."""
    from sparksearch.dynmapping import dynamic_type_of_string
    for nd in (False, True):
        for dd in (False, True):
            t = dynamic_type_of_string(s, nd, dd)
            assert t in ("text", "long", "float", "date")
            if not nd and not dd:
                assert t == "text"
