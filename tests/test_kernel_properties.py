"""Property-based tests (hypothesis) for the kernel invariants.

The reference suite has no property framework (SURVEY.md §5); these pin
the *structural* guarantees the golden literals can't: separator
preservation, roundtrip identity, metric bounds, error-as-data totality.
"""

from hypothesis import given, settings, strategies as st

from archvisier_spark.kernel import (
    build_pdf,
    extract_document_text,
    extract_info_from_text,
    pdf_page_texts,
    token_similarity,
)
from archvisier_spark.kernel.similarity import (
    fuzzy_similarity,
    levenshtein,
    levenshtein_numpy,
)
from archvisier_spark.kernel.spans import find_all_occurrences
from archvisier_spark.kernel.textfix import (
    ENGLISH_DICTIONARY,
    POLISH_DICTIONARY,
    _repair_word,
    correct_text,
)

# PDF content streams carry any text except newlines inside a line
pdf_line = st.text(
    alphabet=st.characters(blacklist_characters="\n\r", blacklist_categories=("Cs",)),
    max_size=80,
)
small_text = st.text(max_size=200)
token_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")), max_size=120
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.lists(pdf_line, min_size=1, max_size=5), min_size=1, max_size=4))
def test_pdf_roundtrip_identity(pages):
    # writer→parser must recover every page's lines joined by \n, in order
    assert pdf_page_texts(build_pdf(pages)) == ["\n".join(lines) for lines in pages]


@settings(max_examples=150, deadline=None)
@given(small_text, st.sampled_from(["pol", "eng"]))
def test_correct_text_preserves_separators_and_length_structure(text, lang):
    out = correct_text(text, lang)
    # non-word characters are untouched, so stripping word chars from both
    # sides yields identical separator skeletons
    import re

    assert re.sub(r"\w+", "", out) == re.sub(r"\w+", "", text)


# characters whose lower() changes length (İ → i + combining dot) or maps
# to another non-ASCII letter (ẞ → ß, ǅ → ǆ, Σ → σ)
_CASE_SHIFTERS = "İẞǅΣ"


@st.composite
def near_dictionary_words(draw):
    """A dictionary word after 0–4 random insertions, deletions and
    substitutions, drawn over its own letters, Polish letters and
    case-shifting characters."""
    chars = list(draw(st.sampled_from(["test", "przyklad", "example"])))
    alphabet = st.characters(blacklist_categories=("Cs",)) | st.sampled_from(
        list("testprzykladexampleąćęłńóśżź" + _CASE_SHIFTERS)
    )
    for _ in range(draw(st.integers(0, 4))):
        op = draw(st.sampled_from(["insert", "delete", "substitute"]))
        i = draw(st.integers(0, len(chars)))
        if op == "insert":
            chars.insert(i, draw(alphabet))
        elif chars:
            i = min(i, len(chars) - 1)
            if op == "delete":
                del chars[i]
            else:
                chars[i] = draw(alphabet)
    return "".join(chars)


@settings(max_examples=1500, deadline=None)
@given(near_dictionary_words()
       | st.text(max_size=12)
       | st.text(alphabet=st.sampled_from(list("estxampl" + _CASE_SHIFTERS)),
                 max_size=10))
def test_repair_word_is_the_nearest_dictionary_word(token):
    """The prefilters in front of the repair DP reject only tokens that are
    more than 2 edits from every word: the repair equals the brute-force
    argmin over the sorted dictionary by full Levenshtein distance."""
    lower = token.lower()
    for dictionary in (POLISH_DICTIONARY, ENGLISH_DICTIONARY):
        d, word = min((levenshtein(lower, w), w) for w in dictionary)
        want = word if 0 < d <= 2 else None
        assert _repair_word(lower, dictionary) == want, (token, dictionary)


@settings(max_examples=200, deadline=None)
@given(token_text, token_text)
def test_token_similarity_bounds_and_symmetry_on_sets(a, b):
    s = token_similarity(a, b)
    assert 0.0 <= s <= 1.0
    assert token_similarity(a, a) in (0.0, 1.0)  # 0 only for empty token sets


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40), st.text(max_size=40), st.text(max_size=40))
def test_levenshtein_metric_properties(a, b, c):
    assert levenshtein(a, b) == levenshtein(b, a)
    assert levenshtein(a, b) <= levenshtein(a, c) + levenshtein(c, b)
    assert (levenshtein(a, b) == 0) == (a == b)
    assert levenshtein_numpy(a, b) == levenshtein(a, b)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60), st.text(max_size=60))
def test_fuzzy_bounds(a, b):
    s = fuzzy_similarity(a, b)
    assert 0.0 <= s <= 1.0
    assert (s == 1.0) == (a == b) or (not a and not b)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=120), st.text(min_size=1, max_size=8))
def test_find_all_occurrences_are_real_and_non_overlapping(text, sub):
    hits = list(find_all_occurrences(text, sub))
    for i, start in enumerate(hits):
        assert text[start : start + len(sub)] == sub
        if i:
            assert start >= hits[i - 1] + len(sub)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_extract_document_text_is_total(payload):
    # errors are data: any byte soup yields a (text, status, format) row
    text, status, fmt = extract_document_text(payload)
    assert isinstance(text, str) and isinstance(status, str)
    assert fmt in ("pdf", "html", "text", "empty")


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_cascade_is_total_and_schema_stable(text):
    info = extract_info_from_text(text, "f.pdf", "KP")
    assert set(info) == {
        "data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
        "sygnatura_sprawy", "typ_dokumentu", "status", "colors",
    }
    assert info["status"] in ("OK", "DO UZUPEŁNIENIA")


@given(st.text(max_size=40), st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_bounds_symmetry_identity(a, b):
    from archvisier_spark.kernel.similarity import jaro_winkler

    s = jaro_winkler(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler(b, a) == s
    assert jaro_winkler(a, a) == 1.0


@given(st.text(max_size=40), st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_levenshtein_ratio_bounds_and_consistency(a, b):
    from archvisier_spark.kernel.similarity import levenshtein, levenshtein_ratio

    r = levenshtein_ratio(a, b)
    assert 0.0 <= r <= 1.0
    assert levenshtein_ratio(b, a) == r
    # indel distance (sub cost 2) >= plain levenshtein ⇒ the implied
    # distance bound holds: (1-r)·(|a|+|b|)/2 ≥ ... sanity: equal iff r=1
    assert (r == 1.0) == (a == b) or (a == b and r == 1.0)
    if a and b and levenshtein(a, b) == 0:
        assert r == 1.0


@given(st.integers(-5, 40) | st.text(max_size=4), st.integers(2, 15))
@settings(max_examples=300, deadline=None)
def test_coerce_odd_always_valid_and_idempotent(value, default):
    from archvisier_spark.kernel.config import coerce_odd

    v = coerce_odd(value, default)
    assert v > 1 and v % 2 == 1
    assert coerce_odd(v, default) == v  # idempotent on valid values


@given(
    st.lists(
        st.tuples(st.sampled_from(["DATA", "ORGANIZACJA", "NR_DOKUMENTU"]),
                  st.text(alphabet="abcde ", min_size=1, max_size=8)),
        min_size=1, max_size=5,
    ),
    st.text(alphabet="abcde \n", max_size=80),
)
@settings(max_examples=300, deadline=None)
def test_rule_ner_entities_never_overlap_and_are_sorted(patterns, text):
    from archvisier_spark.kernel.ner import RuleNer

    pats = [(l, p) for l, p in patterns if p.strip()]
    if not pats:
        return
    ents = RuleNer(pats).ents(text)
    for i, (s, e, _l, surface) in enumerate(ents):
        assert 0 <= s < e <= len(text)
        assert text[s:e] == surface
        if i:
            assert ents[i - 1][1] <= s  # sorted and non-overlapping
