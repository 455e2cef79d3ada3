"""Single-document extraction orchestrator — sniff → per-format extract.

Composes the kernel tiers into the reference's per-document contract
``(text, status)`` (processing/ocr.py:146-237, SURVEY.md §1 item 3):

* PDF payloads: page decomposition → per-page text recovery → per-page
  language resolution → dictionary repair → pages concatenated with a
  trailing newline each (processing/ocr.py:227-231: ``full_text +=
  text_page + "\\n"``).
* HTML payloads: node-tree boilerplate strip (north-rule tier).
* Plain text: UTF-8 decode with ``errors="ignore"`` (the naive-read
  fallback, gui/processing_worker.py:383).
* Errors are DATA, never failures: empty PDFs yield the literal
  ``"BŁĄD: Plik PDF jest pusty lub uszkodzony."`` with empty status;
  exceptions yield ``"BŁĄD TECHNICZNY OCR: {e}"`` (processing/ocr.py:192,
  232-237).
"""

from __future__ import annotations

import traceback
from typing import Callable, NamedTuple, Optional

from archvisier_spark.kernel.charset import decode_payload
from archvisier_spark.kernel.html_extract import extract_main_text
from archvisier_spark.kernel.pdf import pdf_page_texts
from archvisier_spark.kernel.sniffer import (
    FORMAT_EMPTY,
    FORMAT_HTML,
    FORMAT_PDF,
    sniff_format,
)
from archvisier_spark.kernel.textfix import correct_text, detect_lang

STATUS_OK = "Sukces"
EMPTY_PDF_TEXT = "BŁĄD: Plik PDF jest pusty lub uszkodzony."
OCR_ERROR_PREFIX = "BŁĄD TECHNICZNY OCR: "


class RasterEngine(NamedTuple):
    """Pluggable raster-OCR engine for ``ocr_mode="raster"``.

    ``None`` fields fall back to the real subprocess hooks
    (``kernel/pdf.py`` Poppler ``pdftoppm`` / Tesseract) — the production
    configuration on the cluster image.  All three must be MODULE-LEVEL
    callables so the tuple pickles by reference into the Spark closure
    (cloudpickle ships a lambda's bytecode, but a named module function
    keeps the plan stable and the engine swappable per deployment).
    Deterministic stand-ins (kernel/fake_raster.py) plug in the same way
    the reference's tests fake ``image_to_string``
    (tests/test_ocr.py:96-120)."""

    rasterize_fn: Optional[Callable] = None
    ocr_fn: Optional[Callable] = None
    detect_fn: Optional[Callable] = None


def ocr_page_auto(page, language: str, ocr_fn, detect_fn=None, config: str = ""):
    """The two-pass auto-language OCR decision (processing/ocr.py:208-226).

    ``language == "auto"``: OCR once with ``"pol+eng"``, language-detect
    the preliminary text (detector failure → ``"pol"``,
    processing/ocr.py:216-218), then re-OCR the SAME page in the resolved
    single language.  A fixed language OCRs exactly once.  ``ocr_fn(page,
    lang, config)`` is pluggable — real Tesseract on a cluster, a fake in
    tests; the reference pins this contract the same way
    (tests/test_ocr.py:96-120).  Returns ``(text, resolved_lang)`` where
    resolved_lang is the tesseract code ("pol"/"eng") fed to
    :func:`correct_text` downstream.
    """
    if language == "auto":
        preliminary = ocr_fn(page, "pol+eng", config)
        try:
            detected = (detect_fn or detect_lang)(preliminary)
        except Exception:
            detected = "pl"  # fall back to polish, processing/ocr.py:217-218
        lang = "pol" if detected == "pl" else "eng"
        return ocr_fn(page, lang, config), lang
    return ocr_fn(page, language, config), language


# The one per-page repair memo: scanned corpora repeat page content
# (blank pages, stamped headers, the bench corpus's ×500 repeated-page
# skew documents), and the stream memo (kernel/pdf.py) already returns the
# SAME str object for a repeated stream — this memo lifts that sharing one
# level, caching the pure page_text → auto-detect → repair composition so
# a giant repeated-page document pays detect+repair once, not per page.
# Keyed before language detection, so a repeated page skips detection
# too.  Bounded by retained chars, same design as _STREAM_MEMO (round-3
# ADVICE).
_REPAIR_MEMO: dict[tuple[str, str], str] = {}
_REPAIR_MEMO_MAX_CHARS = 1 << 14   # per-page admission cap
_REPAIR_MEMO_BUDGET = 16 << 20     # total retained key+value chars/worker
_repair_memo_chars = 0


def _repair_page(page_text: str, language: str) -> str:
    """Per-page repair of a text-layer page (auto-language +
    :func:`correct_text`) — a pure function of (page_text, language),
    memoized under the retained-chars budget.  The text layer is the
    page's OCR text, so the two-pass decision of :func:`ocr_page_auto`
    reduces to one detection on the page itself."""
    global _repair_memo_chars
    small = len(page_text) <= _REPAIR_MEMO_MAX_CHARS
    key = (language, page_text)
    if small:
        try:
            return _REPAIR_MEMO[key]
        except KeyError:
            pass
    if language == "auto":
        language = "pol" if detect_lang(page_text) == "pl" else "eng"
    out = correct_text(page_text, language)
    if small:
        size = len(page_text) + len(out)
        if _repair_memo_chars + size > _REPAIR_MEMO_BUDGET:
            _REPAIR_MEMO.clear()
            _repair_memo_chars = 0
        _REPAIR_MEMO[key] = out
        _repair_memo_chars += size
    return out


def extract_pdf_text(payload: bytes, language: str = "auto") -> tuple[str, str]:
    """PDF path: text-layer pages → per-page language → repair → concat
    (+"\\n" per page, processing/ocr.py:227-231)."""
    try:
        pages = pdf_page_texts(payload)
        if not pages:
            return EMPTY_PDF_TEXT, ""
        parts: list[str] = []
        for page_text in pages:
            parts.append(_repair_page(page_text, language))
            parts.append("\n")
        return "".join(parts), STATUS_OK
    except Exception as e:
        return f"{OCR_ERROR_PREFIX}{e}", traceback.format_exc()


def extract_pdf_text_raster(
    payload: bytes,
    language: str = "auto",
    config: str = "",
    rasterize_fn=None,
    ocr_fn=None,
    detect_fn=None,
) -> tuple[str, str]:
    """The reference's REAL OCR path (processing/ocr.py:169-237): rasterise
    every page, OCR each raster with the two-pass auto-language decision,
    repair, concat ``+"\\n"`` per page in page order.  Used for
    raster-only PDFs (no text layer); requires Poppler/Tesseract
    (``rasterize_pdf_page``/``ocr_page_image`` subprocess hooks) — where
    the binaries are absent the ``NotImplementedError`` surfaces through
    the standard error contract as a ``BŁĄD TECHNICZNY OCR:`` data row,
    never a task failure.  ``rasterize_fn``/``ocr_fn`` are pluggable for
    the fake-engine contract tests, exactly like :func:`ocr_page_auto`."""
    from archvisier_spark.kernel.pdf import (
        ocr_page_image,
        pdf_page_count,
        rasterize_pdf_page,
    )

    rasterize = rasterize_fn or rasterize_pdf_page
    engine = ocr_fn or (
        lambda img, lang, cfg: ocr_page_image(img, lang=lang, config=cfg)
    )
    try:
        n_pages = pdf_page_count(payload)
        if n_pages == 0:
            return EMPTY_PDF_TEXT, ""
        full_text = ""
        for page_no in range(1, n_pages + 1):
            raster = rasterize(payload, page=page_no)
            text_page, lang = ocr_page_auto(
                raster, language, engine, detect_fn, config
            )
            full_text += correct_text(text_page, lang) + "\n"
        return full_text, STATUS_OK
    except Exception as e:
        return f"{OCR_ERROR_PREFIX}{e}", traceback.format_exc()


def extract_document_text(
    payload: bytes | None,
    language: str = "auto",
    declared_charset: str | None = None,
    ocr_mode: str = "text",
    ocr_engine: RasterEngine | None = None,
) -> tuple[str, str, str]:
    """Dispatch on sniffed format; returns ``(text, status, format)``.

    ``declared_charset``: the transport-layer charset claim (an HTTP/WARC
    ``Content-Type`` header value or bare label) — WHATWG precedence
    slots it between BOM and meta prescan (kernel/charset.py).

    ``ocr_mode``: ``"text"`` recovers PDF text from content streams (the
    sandbox default); ``"raster"`` runs the reference's real OCR path
    (rasterise + Tesseract per page, :func:`extract_pdf_text_raster`) —
    for scanned/raster-only PDFs on a cluster with the binaries.

    ``ocr_engine``: optional :class:`RasterEngine` overriding the raster
    path's rasterise/OCR/detect hooks — real binaries when ``None``."""
    fmt = sniff_format(payload)
    if fmt == FORMAT_EMPTY:
        return "", STATUS_OK, fmt
    if fmt == FORMAT_PDF:
        if ocr_mode == "raster":
            eng = ocr_engine or RasterEngine()
            text, status = extract_pdf_text_raster(
                payload, language,
                rasterize_fn=eng.rasterize_fn,
                ocr_fn=eng.ocr_fn,
                detect_fn=eng.detect_fn,
            )
        else:
            text, status = extract_pdf_text(payload, language)
        return text, status, fmt
    # charset-sniffed decode (BOM → header → meta prescan → utf-8): legacy
    # Polish pages ship ISO-8859-2/windows-1250, UTF-16 arrives with BOMs;
    # plain utf-8 payloads decode byte-identically to the old utf-8 path
    raw = decode_payload(payload, declared_charset)
    if fmt == FORMAT_HTML:
        try:
            return extract_main_text(raw), STATUS_OK, fmt
        except Exception as e:
            return f"{OCR_ERROR_PREFIX}{e}", traceback.format_exc(), fmt
    return raw, STATUS_OK, fmt
