"""Golden-literal tests for the single-document kernel.

Every expected value below is taken verbatim from the reference pytest
suite (cited per test) — these pin the kernel as the byte-identity oracle
for the Spark pipeline.
"""

import pytest

from archvisier_spark.kernel import (
    cosine_similarity,
    extract_date,
    extract_info_from_text,
    extract_sender_recipient,
    extract_subject,
    find_document_type,
    fuzzy_similarity,
    generate_new_filename,
    levenshtein,
    sanitize_filename,
    smart_extract_info,
    token_similarity,
)
from archvisier_spark.kernel.spans import (
    detect_document_type_span,
    find_all_occurrences,
    label_spans,
)
from archvisier_spark.kernel.textfix import build_ocr_config, correct_text, detect_lang


# --- cascade step-3 raw regexes (reference tests/test_processing_worker_regex.py) ---
# The reference suite stubs the smart tier to all-empty (its lines 11-26);
# smart_tier=None mirrors that, isolating the step-3 raw-regex layer.

def step3(text):
    return extract_info_from_text(text, "test.pdf", "KP", smart_tier=None)


def test_regex_date_numeric():
    assert step3("Dnia 12-05-2024 roku")["data"] == "12-05-2024"


def test_regex_date_words():
    assert step3("Warszawa, 3 stycznia 2022")["data"].lower() == "3 stycznia 2022"


def test_regex_sender_recipient():
    info = step3("Od: Jan Kowalski\nDo: Urząd Miasta")
    assert "Jan Kowalski" in info["nadawca_odbiorca"]
    assert "Urząd Miasta" in info["nadawca_odbiorca"]


def test_regex_number_and_signature():
    info = step3("Numer dokumentu: ABC-123/2024\nSygn. akt: VII K 123/20")
    assert info["numer_dokumentu"] == "ABC-123/2024"
    assert info["sygnatura_sprawy"] == "VII K 123/20"


def test_full_cascade_smart_tier_precedence():
    # With the smart tier active (production path), step 2 normalises the
    # date before step 3 ever runs (processing_worker.py:207-231).
    info = extract_info_from_text("Dnia 12-05-2024 roku", "test.pdf", "KP")
    assert info["data"] == "2024-05-12"


def test_signature_override_wins():
    # processing_worker.py:181 — override short-circuits steps 1 and 3
    info = extract_info_from_text("Sygn. akt: VII K 123/20", "t.pdf", "KP", "X 1/11")
    assert info["sygnatura_sprawy"] == "X 1/11"


def test_empty_text_status_and_colors():
    # processing_worker.py:298-306 — all-empty → every field yellow,
    # status DO UZUPEŁNIENIA
    info = extract_info_from_text("", "t.pdf", "KP")
    assert info["status"] == "DO UZUPEŁNIENIA"
    assert set(info["colors"]) == {
        "data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
        "sygnatura_sprawy", "typ_dokumentu",
    }
    assert all(v == "yellow" for v in info["colors"].values())


# --- SmartExtractor tier (reference tests/test_smart_extractor.py) ---

def test_invoice_number_keyword_to_faktura():
    info = smart_extract_info("Invoice No. 12345")
    assert info["typ_dokumentu"] == "FAKTURA"
    assert info["numer_dokumentu"] == "12345"


def test_find_document_type_header_priority():
    # header hit (first 500 chars) beats any later keyword
    text = "umowa o dzieło\n" + "x" * 600 + "\nfaktura"
    assert find_document_type(text) == "UMOWA"


def test_find_document_type_word_boundary():
    # "umowami"-style substrings must NOT match (word-boundary regex,
    # smart_extractor.py:133-136)
    assert find_document_type("zaumowan") == ""


def test_extract_date_normalises_iso():
    assert extract_date("data: 2024-03-05 r.") == "2024-03-05"
    assert extract_date("data: 2024/3/5 r.") == "2024-03-05"
    assert extract_date("dnia 05.03.2024") == "2024-03-05"


def test_extract_date_polish_month_name():
    assert extract_date("10 maja 2023") == "2023-05-10"


def test_extract_date_case_sensitive_month_probe():
    # smart_extractor.py:171-172 probes month names case-sensitively against
    # the original fragment — "10 May 2023" resolves no month.
    assert extract_date("10 May 2023") == ""


def test_extract_subject_returns_group0_with_prefix_strip():
    # smart_extractor.py:212 — group(0) minus literal lowercase prefixes
    assert extract_subject("dotyczy: dostawy gazu ziemnego") == "dostawy gazu ziemnego"
    # capitalised prefix survives (replace is case-sensitive)
    assert extract_subject("Dotyczy: dostawy gazu ziemnego").startswith("Dotyczy:")


def test_extract_sender_recipient_address_fallback():
    text = "Ministerstwo Rozwoju\nul. Polna 10, Warszawa 00-001"
    assert extract_sender_recipient(text) == "Ministerstwo Rozwoju"


def test_smart_extract_empty_text():
    assert smart_extract_info("") == {
        "data": "",
        "nadawca_odbiorca": "",
        "w_sprawie": "",
        "numer_dokumentu": "",
        "typ_dokumentu": "",
    }


# --- naming (reference tests/test_generate_new_filename.py + test_handle_file_copy.py) ---

GOLDEN_INFO = {
    "sygnatura_sprawy": "Sygnatura",
    "numer_dokumentu": "123",
    "nadawca_odbiorca": "Ministerstwo",
    "typ_dokumentu": "Umowa",
    "w_sprawie": "w sprawie",
}


def test_generate_new_filename_scheme():
    counters = {}
    assert (
        generate_new_filename(GOLDEN_INFO, "KP", counters)
        == "1_Sygnatura_123-MINISTERSTWO-UMOWA-w-sprawie.pdf"
    )


def test_generate_new_filename_increment():
    counters = {}
    assert generate_new_filename(GOLDEN_INFO, "KP", counters).startswith("1_")
    assert generate_new_filename(GOLDEN_INFO, "KP", counters).startswith("2_")


def test_generate_new_filename_all_empty():
    counters = {}
    assert generate_new_filename({}, "KP", counters) == "dokument_do_weryfikacji_1.pdf"


def test_sanitize_filename_spaces():
    assert sanitize_filename("spaced name.txt") == "spaced_name.txt"


def test_sanitize_filename_ascii_scrub():
    # tests/test_handle_file_copy.py:47-55 — re.ASCII makes ż a non-word char
    assert sanitize_filename("żółć.txt") == "____.txt"


def test_sanitize_filename_mixed():
    # tests/test_pdf_processor_app.py:87-99
    assert sanitize_filename("c ż.pdf") == "c__.pdf"


# --- similarity kernels (reference tests/test_token_similarity.py etc.) ---

def test_token_similarity_golden():
    assert token_similarity("one two", "one three") == pytest.approx(0.333333, rel=1e-6)


def test_token_similarity_multiset_c_semantics():
    # C kernel counts duplicate tokens of `a` individually
    # (native_c/token_similarity.c:56-68): a={x,x}, b={x} →
    # intersection 2, union 2 → 1.0
    assert token_similarity("x x", "x") == 1.0


def test_token_similarity_empty_union_is_zero():
    assert token_similarity("", "") == 0.0


def test_levenshtein_golden_pairs():
    # tests/test_levenshtein_c.py:64-74
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("flaw", "lawn") == 2
    assert levenshtein("", "test") == 4
    assert levenshtein("archiwizator", "archiwizacja") == 3


def test_cosine_similarity_vs_numpy():
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random(1024)
    b = rng.random(1024)
    expected = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(cosine_similarity(a.tolist(), b.tolist()) - expected) <= 1e-6


def test_cosine_zero_norm():
    assert cosine_similarity([0.0, 0.0], [1.0, 2.0]) == 0.0


def test_fuzzy_similarity_fallback_semantics():
    # context_analyzer.py:24-42 final fallback
    assert fuzzy_similarity("abc", "abc") == 1.0
    assert fuzzy_similarity("", "abc") == 0.0
    assert fuzzy_similarity("abcd", "abce") == pytest.approx(0.75)


# --- text repair + language (reference tests/test_ocr.py semantics) ---

def test_correct_text_repairs_near_words():
    # "tst" is distance 1 from "test" → replaced; separators preserved
    assert correct_text("tst, ok!", "eng") == "test, ok!"


def test_correct_text_keeps_distant_words():
    assert correct_text("zzzzzz", "eng") == "zzzzzz"


def test_detect_lang_diacritics():
    assert detect_lang("zażółć gęślą jaźń") == "pl"
    assert detect_lang("plain english text") == "en"


def test_build_ocr_config_merge():
    # processing/ocr.py:133-143 — append psm/oem unless present
    assert build_ocr_config("", 3, 3) == "--psm 3 --oem 3"
    assert build_ocr_config("--psm 6", 3, 3) == "--psm 6 --oem 3"
    assert build_ocr_config("-c x=1", 4, 1) == "-c x=1 --psm 4 --oem 1"


# --- spans (reference training_engine.py semantics) ---

def test_find_all_occurrences_steps_past_match():
    assert list(find_all_occurrences("abab", "ab")) == [0, 2]
    assert list(find_all_occurrences("aaa", "aa")) == [0]  # non-overlapping
    assert list(find_all_occurrences("abc", "")) == []


def test_detect_document_type_span():
    doc_type, start, end = detect_document_type_span("Ta umowa jest ważna")
    assert (doc_type, start, end) == ("UMOWA", 3, 8)


def test_label_spans_all_occurrences_plus_type():
    text = "Umowa nr 7/2025 z dnia 2024-03-05. Numer 7/2025."
    truth = {"Numer Dokumentu": "7/2025", "Data": "2024-03-05"}
    spans = label_spans(text, truth)
    assert (23, 33, "DATA") in spans
    assert (9, 15, "NR_DOKUMENTU") in spans
    assert (41, 47, "NR_DOKUMENTU") in spans
    assert any(label == "TYP_DOKUMENTU" for _, _, label in spans)


# --- X15 live rename (gui/pdf_processor_app.py:849-850) ---

def test_live_rename_strip_and_scrub():
    from archvisier_spark.kernel.naming import live_rename

    assert live_rename("1", "2024-01-02", "UMOWA", "ACME") == "1_2024-01-02_UMOWA_ACME.pdf"
    # empty tail fields: strip("_") removes the dangling underscores
    assert live_rename("1", "", "", "") == "1.pdf"
    # disallowed chars scrubbed AFTER assembly (slash, colon, question mark)
    assert live_rename("2", "a/b", "c:d", "e?f") == "2_a_b_c_d_e_f.pdf"


# --- S3 page-count probe (processing/ocr.py:264-288 analog) ---

def test_pdf_page_count():
    from archvisier_spark.kernel.pdf import build_pdf, pdf_page_count

    assert pdf_page_count(build_pdf([["a"], ["b"], ["c"]])) == 3
    assert pdf_page_count(build_pdf([])) == 0
    assert pdf_page_count(b"not a pdf at all") == 0


# --- NumPy distance variant must be value-equal to the canonical DP ---

def test_levenshtein_numpy_equals_pure():
    import random
    from archvisier_spark.kernel.similarity import levenshtein_numpy

    rng = random.Random(2)
    alphabet = "abcdef żó "
    for _ in range(400):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        assert levenshtein_numpy(a, b) == levenshtein(a, b), (a, b)


def test_fuzzy_fast_equals_canonical():
    from archvisier_spark.kernel.similarity import fuzzy_similarity_fast

    assert fuzzy_similarity_fast("abcd", "abce") == fuzzy_similarity("abcd", "abce")
    assert fuzzy_similarity_fast("", "x") == 0.0
    assert fuzzy_similarity_fast("x", "x") == 1.0


# --- K4 preference chain tiers (context_analyzer.py:10-42) ---
# The canonical engine default stays the final fallback (pinned above);
# these pin the from-scratch Jaro-Winkler / Levenshtein.ratio tiers to
# textbook values so a rapidfuzz-equipped deployment gets identical
# numbers from fuzzy_similarity_chain.

def test_jaro_winkler_textbook_goldens():
    from archvisier_spark.kernel.similarity import jaro_similarity, jaro_winkler

    assert round(jaro_similarity("MARTHA", "MARHTA"), 7) == 0.9444444
    assert round(jaro_winkler("MARTHA", "MARHTA"), 7) == 0.9611111
    assert round(jaro_similarity("DWAYNE", "DUANE"), 7) == 0.8222222
    assert round(jaro_winkler("DWAYNE", "DUANE"), 2) == 0.84
    assert round(jaro_winkler("DIXON", "DICKSONX"), 7) == 0.8133333
    assert jaro_winkler("", "") == 1.0          # rapidfuzz convention
    assert jaro_winkler("a", "") == 0.0


def test_jaro_winkler_boost_gated_below_threshold():
    """rapidfuzz applies the Winkler prefix boost only when Jaro > 0.7 —
    a low-Jaro pair with a long common prefix must NOT be inflated into
    the downstream 0.7 acceptance region (round-2 ADVICE)."""
    from archvisier_spark.kernel.similarity import jaro_similarity, jaro_winkler

    a, b = "prefixxyzzzz", "prefiqqqaaaa"  # 4+ char common prefix
    j = jaro_similarity(a, b)
    assert j < 0.7
    assert jaro_winkler(a, b) == j  # no boost below the threshold
    # and the boost still applies just above it
    assert jaro_winkler("DWAYNE", "DUANE") > jaro_similarity("DWAYNE", "DUANE")


def test_levenshtein_ratio_golden():
    from archvisier_spark.kernel.similarity import levenshtein_ratio

    # python-Levenshtein documented example
    assert round(levenshtein_ratio("kitten", "sitting"), 7) == 0.6153846
    assert levenshtein_ratio("", "") == 1.0
    assert levenshtein_ratio("abc", "abc") == 1.0


def test_fuzzy_chain_tier_selection():
    from archvisier_spark.kernel.similarity import (
        fuzzy_similarity,
        fuzzy_similarity_chain,
        jaro_winkler,
        levenshtein_ratio,
    )

    a, b = "Ministerstwo Finansów", "Ministerstwo Finansow"
    assert fuzzy_similarity_chain(a, b) == jaro_winkler(a, b)
    assert fuzzy_similarity_chain(a, b, tier="ratio") == levenshtein_ratio(a, b)
    assert fuzzy_similarity_chain(a, b, tier="fallback") == fuzzy_similarity(a, b)


def test_literal_gates_admit_unicode_digits_and_ignorecase_folds(monkeypatch):
    """Two gate-soundness classes found by review (a gate must NEVER
    change a result vs the ungated scan):

    - the digit gate must admit the same Unicode \\d class the date
      patterns use (Arabic-Indic digits appear in OCR'd multilingual
      payloads);
    - re.IGNORECASE folds dotless i (U+0131), long s (U+017F) and the
      Kelvin sign (U+212A) into ASCII letters, so a text containing them
      can match a pattern whose lowercase literal is NOT a substring of
      text.lower() — the _FOLD_WARTS stand-down must run the scan anyway,
      in BOTH the smart tier and the cascade's raw tier."""
    from archvisier_spark.kernel.cascade import extract_info_from_text
    from archvisier_spark.kernel.smart import (
        extract_date,
        extract_document_number,
        smart_extract_info,
    )

    # Unicode digits: ٢٣ = ٢٣ etc.
    arabic = "dnia ٢٣/٠١/٢٠٢٤ r."
    assert extract_date(arabic) != "", "digit gate dropped a \\d-only date"
    info = extract_info_from_text(arabic, smart_tier=None)
    assert info["data"] == "٢٣/٠١/٢٠٢٤"

    # long s in a month name: (?i) folds ſ -> s, so the cascade's raw
    # wrze[sś]nia pattern matches 'Wrzeſnia' while 'wrzeſnia'.lower()
    # contains neither gate literal — the stand-down must run the scan.
    # (The smart tier's word-date is immune either way: its case-
    # sensitive month probe rejects the fragment and falls through.)
    long_s = "spotkanie 15 Wrzeſnia 2024 roku"
    info = extract_info_from_text(long_s, smart_tier=None)
    assert info["data"] == "15 Wrzeſnia 2024"
    # long s in the raw signature keyword: 'ſygnatura X/1'
    info = extract_info_from_text("ſygnatura AB/1", smart_tier=None)
    assert info["sygnatura_sprawy"] != ""
    # dotless i in a number keyword ('nr' has none; use 'numer' with ı)
    dotless = "dokument NUMERıZACJA nrı 7/2025"
    # gate must not silently skip — result equals the ungated scan
    from archvisier_spark.kernel import smart as smart_mod
    for probe in (arabic, long_s, dotless, "15 września 2020"):
        gated_d = extract_date(probe)
        gated_n = extract_document_number(probe)
        gated_i = smart_extract_info(probe)
        with monkeypatch.context() as m:
            m.setattr(smart_mod, "GATES_ENABLED", False)
            assert extract_date(probe) == gated_d, probe
            assert extract_document_number(probe) == gated_n, probe
            assert smart_extract_info(probe) == gated_i, probe
