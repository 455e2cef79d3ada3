"""Auto-language re-OCR decision contract (processing/ocr.py:208-226).

Ports the reference's orchestration tests (tests/test_ocr.py:96-149) onto
the pluggable per-page OCR hook: the contracts pinned are call SEQUENCE
and arguments (pol+eng probe → detect → single-language re-OCR), not OCR
quality — exactly how the reference tests it with a fake
``image_to_string``.
"""

from archvisier_spark.kernel.document import (
    extract_pdf_text,
    ocr_page_auto,
)
from archvisier_spark.kernel.pdf import build_pdf
from archvisier_spark.kernel.textfix import build_ocr_config


def test_auto_language_two_pass_reference_golden():
    """Port of test_extract_text_with_ocr_auto_language: auto probes with
    pol+eng, detect says 'en', re-OCR runs with 'eng' — same config both
    times (the reference asserts calls[0]/calls[1] literally)."""
    calls = []

    def fake_ocr(page, lang, config):
        calls.append((lang, config))
        return "test"

    cfg = build_ocr_config("", psm=3, oem=3)
    text, lang = ocr_page_auto("PAGE", "auto", fake_ocr,
                               detect_fn=lambda t: "en", config=cfg)
    assert calls[0] == ("pol+eng", "--psm 3 --oem 3")
    assert calls[1] == ("eng", "--psm 3 --oem 3")
    assert text == "test"
    assert lang == "eng"


def test_auto_language_detects_polish():
    calls = []

    def fake_ocr(page, lang, config):
        calls.append(lang)
        return "zażółć"

    _, lang = ocr_page_auto("PAGE", "auto", fake_ocr, detect_fn=lambda t: "pl")
    assert calls == ["pol+eng", "pol"]
    assert lang == "pol"


def test_detect_failure_falls_back_to_polish():
    """processing/ocr.py:216-218: detector exception → 'pol'."""

    def boom(_text):
        raise RuntimeError("langdetect unavailable")

    calls = []
    _, lang = ocr_page_auto(
        "PAGE", "auto",
        lambda p, l, c: calls.append(l) or "x",
        detect_fn=boom,
    )
    assert calls == ["pol+eng", "pol"]
    assert lang == "pol"


def test_fixed_language_single_pass():
    """Explicit language: exactly ONE OCR call, no probe."""
    calls = []
    text, lang = ocr_page_auto(
        "PAGE", "pol", lambda p, l, c: calls.append((l, c)) or "ok", config="--psm 4"
    )
    assert calls == [("pol", "--psm 4")]
    assert (text, lang) == ("ok", "pol")


def test_extract_pdf_auto_reocrs_every_page():
    """End-to-end through a real (text-layer) PDF payload: each page's
    language resolves on its own — the Polish page (diacritics) is
    repaired against the Polish dictionary, the English page against the
    English one — and the per-page '\\n' concat contract holds."""
    pdf = build_pdf([["zażółć przyklat"], ["an exampel page"]])
    text, status = extract_pdf_text(pdf, language="auto")
    assert status == "Sukces"
    assert text.split("\n") == ["zażółć przyklad", "an example page", ""]


def test_raster_path_pages_in_order_with_two_pass():
    """extract_pdf_text_raster (the reference's REAL OCR path,
    processing/ocr.py:169-237): every page is rasterised by page NUMBER,
    each raster goes through the two-pass auto-language decision, and the
    repaired pages concat +"\\n" in page order."""
    from archvisier_spark.kernel.document import extract_pdf_text_raster

    pdf = build_pdf([["FIRST"], ["SECOND"], ["THIRD"]])
    raster_calls, ocr_calls = [], []

    def fake_rasterize(payload, page=1, dpi=200):
        raster_calls.append(page)
        return f"PNG{page}".encode()

    def fake_ocr(img, lang, cfg):
        ocr_calls.append((img.decode(), lang))
        return f"tekst{img.decode()[3:]}"

    text, status = extract_pdf_text_raster(
        pdf, "auto", rasterize_fn=fake_rasterize, ocr_fn=fake_ocr,
        detect_fn=lambda t: "pl",
    )
    assert status == "Sukces"
    assert raster_calls == [1, 2, 3]
    # probe + resolved re-OCR per page, same raster both times
    assert [lang for _, lang in ocr_calls] == ["pol+eng", "pol"] * 3
    assert [img for img, _ in ocr_calls] == [
        "PNG1", "PNG1", "PNG2", "PNG2", "PNG3", "PNG3"
    ]
    assert text == "tekst1\ntekst2\ntekst3\n"


def test_raster_path_error_is_data_not_failure():
    """A raster-stage exception (including NotImplementedError when the
    binaries are absent) must become the BŁĄD TECHNICZNY OCR: row contract
    (processing/ocr.py:232-237), with the traceback in status."""
    from archvisier_spark.kernel.document import (
        OCR_ERROR_PREFIX,
        extract_pdf_text_raster,
    )

    pdf = build_pdf([["X"]])

    def boom(payload, page=1, dpi=200):
        raise RuntimeError("rasteriser exploded")

    text, status = extract_pdf_text_raster(pdf, "pol", rasterize_fn=boom)
    assert text.startswith(OCR_ERROR_PREFIX)
    assert "rasteriser exploded" in text
    assert "Traceback" in status

    # OCR dying on page 2 of 3: one error row for the document, the text
    # of page 1 discarded
    def ocr_dies_on_page_2(img, lang, cfg):
        if img == b"PNG2":
            raise RuntimeError("tesseract crashed")
        return "tekst"

    text, status = extract_pdf_text_raster(
        build_pdf([["A"], ["B"], ["C"]]), "pol",
        rasterize_fn=lambda payload, page=1, dpi=200: f"PNG{page}".encode(),
        ocr_fn=ocr_dies_on_page_2,
    )
    assert text == f"{OCR_ERROR_PREFIX}tesseract crashed"
    assert "Traceback" in status


def test_raster_path_empty_pdf_contract():
    """Zero rasterisable pages → the reference's empty-PDF literal
    (processing/ocr.py:192), empty status."""
    from archvisier_spark.kernel.document import (
        EMPTY_PDF_TEXT,
        extract_pdf_text_raster,
    )

    text, status = extract_pdf_text_raster(
        b"%PDF-1.4\n%%EOF", "pol",
        rasterize_fn=lambda p, page=1, dpi=200: b"",
        ocr_fn=lambda i, l, c: "",
    )
    assert (text, status) == (EMPTY_PDF_TEXT, "")
