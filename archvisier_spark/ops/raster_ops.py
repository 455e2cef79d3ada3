"""Raster-OCR orchestration as a driver-visible query (round-5 verdict #5).

``extract_documents(ocr_mode="raster")`` — the reference's REAL OCR path
(rasterise every page, OCR each raster, two-pass auto-language, repair,
page-order concat; processing/ocr.py:169-237) — driven through the
distributed mapInArrow pipeline with the deterministic fake engine
(kernel/fake_raster.py, the SVID-fixture family).  What the full value
oracle proves is the DISTRIBUTED RASTER ORCHESTRATION: per-page raster →
OCR fan-out in page order, both branches of the auto-language decision
(odd pages resolve "pol", even "eng"), the empty-PDF and
``BŁĄD TECHNICZNY OCR:`` error-row contracts, and the engine closure
travelling into executor workers.  The real Poppler/Tesseract binaries
stay the cluster image's job (tests/test_cluster_image.py).

Status discipline: error rows carry a worker-side traceback in ``status``
(frame paths differ driver vs executor), so the query projects a stable
``status_class`` (ok / empty / error) instead of hashing tracebacks —
the per-class mapping is total and the extracted_text still pins the
exact error message.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from archvisier_spark.kernel.fake_raster import FAKE_RASTER_ENGINE
from archvisier_spark.kernel.pdf import build_pdf
from archvisier_spark.session import local_frame

_IN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("lang", T.StringType(), True),
])


def _raster_cases() -> list[tuple[str, bytes]]:
    """Deterministic fixture ``(url, payload)`` — built in plain Python on
    the driver; the same bytes feed the Spark query (createDataFrame) and
    the oracle generator (single-doc kernel)."""
    three_pages = build_pdf([
        ["Umowa najmu lokalu", "zawarta dnia 2024-02-12"],
        ["payment schedule annex"],
        ["podpisy stron"],
    ])
    one_page = build_pdf([["Faktura VAT 17/2025"]])
    # %PDF magic, but no Pages tree and no page objects → page count 0 →
    # the reference's empty-PDF literal (processing/ocr.py:192)
    empty_pdf = b"%PDF-1.7\n%%EOF\n"
    # claims 12 pages: the fake rasteriser fails past its 8-page limit —
    # the mid-document engine failure mode, surfaced as an error DATA row
    over_limit = (
        b"%PDF-1.7\n1 0 obj\n<< /Type /Pages /Kids [] /Count 12 >>\nendobj\n"
        b"%%EOF\n"
    )
    html_doc = (
        "<html><body><p>Raster mode only affects PDF payloads; this page "
        "takes the boilerplate-strip path untouched, wystarczająco długi "
        "akapit treści głównej, aby klasyfikator bloków go zachował."
        "</p></body></html>"
    ).encode("utf-8")
    return [
        ("warc://raster/three-pages", three_pages),
        ("warc://raster/one-page", one_page),
        ("warc://raster/empty-pdf", empty_pdf),
        ("warc://raster/over-limit", over_limit),
        ("warc://raster/html-passthrough", html_doc),
    ]


def _status_class(status: str) -> str:
    if status == "Sukces":
        return "ok"
    if status == "":
        return "empty"
    return "error"


def q_extract_raster_ocr(spark, sf_dir):
    """The raster pipeline over the fixture corpus, through the REAL
    distributed path (mapInArrow, engine closure shipped to workers).
    sf_dir-independent: the fixture IS the deterministic corpus."""
    from archvisier_spark.pipeline.extract import extract_documents

    rows = [(url, None, payload, "pl") for url, payload in _raster_cases()]
    ext = extract_documents(
        local_frame(spark, rows, _IN_SCHEMA),
        language="auto",
        ocr_mode="raster",
        ocr_engine=FAKE_RASTER_ENGINE,
    )
    status_class = (
        F.when(F.col("status") == "Sukces", F.lit("ok"))
        .when(F.col("status") == "", F.lit("empty"))
        .otherwise(F.lit("error"))
    )
    return ext.select(
        "url",
        "extracted_text",
        status_class.alias("status_class"),
        "format",
        "n_chars",
    )


def _raster_oracle_sql(sf_dir: str | None = None) -> str:
    """Pinned-literal oracle: expected rows computed with the single-doc
    kernel and the SAME fake engine the Spark side ships — any divergence
    in the distributed plumbing (engine pickling, Arrow batching, page
    order, error handling) flips the value hash.  Fixture-deterministic;
    never ``None``."""
    from archvisier_spark.kernel.document import extract_document_text

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for url, payload in _raster_cases():
        text, status, fmt = extract_document_text(
            payload, "auto", None, "raster", FAKE_RASTER_ENGINE
        )
        vals.append(
            f"({q(url)}, {q(text)}, {q(_status_class(status))}, {q(fmt)}, "
            f"{len(text)})"
        )
    return (
        "SELECT url, extracted_text, status_class, format, "
        "n_chars::BIGINT AS n_chars "
        "FROM (VALUES\n" + ",\n".join(vals)
        + "\n) AS t(url, extracted_text, status_class, format, n_chars)"
    )


QUERIES = {
    "extract_raster_ocr": q_extract_raster_ocr,
}

ORACLES = {
    "extract_raster_ocr": _raster_oracle_sql,
}
