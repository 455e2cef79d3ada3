"""Paged raster-OCR path ≡ doc-at-once raster (round-6 review finding #1).

extract_documents(paged_threshold=…, ocr_mode="raster") used to silently
fall back to the text layer for exactly the huge documents the paged
path targets.  Now the split stage rasterises (payload in hand), OCR
runs page-parallel, and reassembly folds per-page OCR failures into one
document error row — byte-identical to the doc-at-once kernel on text
and format, with the same error semantics (first failing page wins).
"""

import struct

from pyspark.sql import types as T

from archvisier_spark.kernel.document import (
    RasterEngine,
    extract_document_text,
)
from archvisier_spark.kernel.fake_raster import (
    FAKE_RASTER_ENGINE,
    fake_ocr,
    fake_rasterize,
)
from archvisier_spark.ops.raster_ops import _raster_cases
from archvisier_spark.pipeline.paged import extract_documents_paged

_IN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("lang", T.StringType(), True),
])


def _failing_engine() -> RasterEngine:
    """Fake engine whose OCR dies on page 2 — the per-page failure the
    reassembly must fold into one document error row.  Built from a
    LOCAL function so cloudpickle ships it by value (a test-module
    function pickles by reference, which executor workers can't
    import)."""

    def failing_ocr(img: bytes, lang: str = "pol", config: str = "") -> str:
        page = struct.unpack("<II", img[4:12])[0]
        if page == 2:
            raise RuntimeError("tesseract crashed (simulated)")
        return fake_ocr(img, lang, config)

    return RasterEngine(fake_rasterize, failing_ocr, None)


def _compare(spark, engine, cases):
    rows = [(url, None, payload, "pl") for url, payload in cases]
    out = extract_documents_paged(
        spark.createDataFrame(rows, _IN_SCHEMA),
        language="auto", partitions=2,
        ocr_mode="raster", ocr_engine=engine,
    ).collect()
    got = {r["url"]: (r["extracted_text"], r["status"], r["format"])
           for r in out}
    assert len(got) == len(cases)
    for url, payload in cases:
        text, status, fmt = extract_document_text(
            payload, "auto", None, "raster", engine
        )
        g_text, g_status, g_fmt = got[url]
        assert g_text == text, url
        assert g_fmt == fmt, url
        # tracebacks carry executor vs driver frames — compare the
        # contract (empty / "Sukces" / traceback-nonempty), not frames
        if status in ("", "Sukces"):
            assert g_status == status, url
        else:
            assert g_status not in ("", "Sukces"), url


def test_paged_raster_matches_doc_at_once(spark):
    """The full fixture family: multi-page bilingual, single-page, empty
    PDF, rasteriser failure mid-document, HTML passthrough."""
    _compare(spark, FAKE_RASTER_ENGINE, _raster_cases())


def test_paged_raster_page_ocr_failure_folds_to_doc_error(spark):
    """OCR dying on page 2 of 3 → ONE document error row with the first
    failing page's message (doc-at-once loop semantics), never a task
    failure, and pages 1/3's text discarded exactly like doc-at-once."""
    cases = [c for c in _raster_cases() if c[0].endswith("three-pages")]
    _compare(spark, _failing_engine(), cases)


def test_paged_text_mode_unchanged(spark):
    """The text path still matches doc-at-once after the blob-column
    schema change (regression guard for the existing differential)."""
    cases = _raster_cases()
    rows = [(url, None, payload, "pl") for url, payload in cases]
    out = extract_documents_paged(
        spark.createDataFrame(rows, _IN_SCHEMA), language="auto",
        partitions=2,
    ).collect()
    got = {r["url"]: (r["extracted_text"], r["format"]) for r in out}
    for url, payload in cases:
        text, _status, fmt = extract_document_text(payload, "auto")
        assert got[url] == (text, fmt), url


def test_extract_documents_routes_raster_to_paged(spark):
    """The router itself (the round-6 review's failure case): with
    paged_threshold splitting the fixture, BOTH halves — map-only and
    paged — must produce the raster kernel's output, not a silent
    text-layer fallback for the huge documents."""
    from archvisier_spark.pipeline.extract import extract_documents

    cases = _raster_cases()
    sizes = {url: len(p) for url, p in cases}
    threshold = sorted(sizes.values())[len(sizes) // 2]  # split the set
    rows = [(url, None, payload, "pl") for url, payload in cases]
    out = extract_documents(
        spark.createDataFrame(rows, _IN_SCHEMA),
        language="auto", ocr_mode="raster", ocr_engine=FAKE_RASTER_ENGINE,
        paged_threshold=threshold,
    ).collect()
    got = {r["url"]: (r["extracted_text"], r["format"]) for r in out}
    assert len(got) == len(cases)
    routed_paged = [u for u, n in sizes.items() if n >= threshold]
    assert routed_paged and len(routed_paged) < len(cases)  # a real split
    for url, payload in cases:
        text, _status, fmt = extract_document_text(
            payload, "auto", None, "raster", FAKE_RASTER_ENGINE
        )
        assert got[url] == (text, fmt), url


def test_split_stage_flushes_bounded_frames(monkeypatch):
    """r07 ADVICE fix: the raster split stage streams pages into bounded
    output frames instead of materialising every raster of a batch (and
    of each document) at once.  With a tiny flush budget the generator
    yields multiple frames whose concatenation equals the single-frame
    output row-for-row."""
    import pandas as pd

    from archvisier_spark.kernel.pdf import build_pdf
    from archvisier_spark.pipeline import paged

    docs = [
        (f"warc://flush/{i}", None,
         build_pdf([[f"strona {p} dok {i}"] for p in range(4)]), "pl")
        for i in range(6)
    ]
    batch = pd.DataFrame(docs, columns=["url", "warc_ts", "html", "lang"])

    def run():
        split = paged._split_batches("auto", "raster", FAKE_RASTER_ENGINE)
        return list(split(iter([batch.copy()])))

    monkeypatch.setattr(paged, "SPLIT_FLUSH_BYTES", 1 << 30)
    one = run()
    monkeypatch.setattr(paged, "SPLIT_FLUSH_BYTES", 1)
    many = run()
    assert len(one) == 1 and len(many) > 1
    whole = pd.concat(one, ignore_index=True)
    streamed = pd.concat(many, ignore_index=True)
    pd.testing.assert_frame_equal(whole, streamed)
    # every document's pages present exactly once
    assert sorted(streamed["url"].tolist()) == sorted(
        u for (u, _, _, _) in docs for _ in range(4)
    )


def test_split_stage_mid_document_rasterizer_failure_aborts_document():
    """A rasteriser error on page 3 must retract the document's buffered
    page rows and emit ONE error data row (the doc-at-once abort
    contract), even though pages now stream into the output buffer."""
    import pandas as pd

    from archvisier_spark.kernel.document import OCR_ERROR_PREFIX
    from archvisier_spark.kernel.pdf import build_pdf
    from archvisier_spark.pipeline import paged

    def exploding_rasterize(payload: bytes, page: int = 1, dpi: int = 200) -> bytes:
        if page == 3:
            raise RuntimeError("pdftoppm crashed (simulated)")
        return fake_rasterize(payload, page=page, dpi=dpi)

    eng = RasterEngine(exploding_rasterize, fake_ocr, None)
    good = ("warc://abort/good", None,
            build_pdf([["ok strona 1"], ["ok strona 2"]]), "pl")
    bad = ("warc://abort/bad", None,
           build_pdf([[f"strona {p}"] for p in range(5)]), "pl")
    batch = pd.DataFrame([good, bad], columns=["url", "warc_ts", "html", "lang"])
    split = paged._split_batches("auto", "raster", eng)
    out = pd.concat(list(split(iter([batch]))), ignore_index=True)
    bad_rows = out[out["url"] == "warc://abort/bad"]
    assert len(bad_rows) == 1
    assert int(bad_rows.iloc[0]["page_idx"]) == -1
    assert bad_rows.iloc[0]["page_text"].startswith(OCR_ERROR_PREFIX)
    assert len(out[out["url"] == "warc://abort/good"]) == 2


def test_split_stage_retraction_restores_flush_accumulator(monkeypatch):
    """A rasteriser failure after emitting pages retracts those rows AND
    their bytes: the next frame must not flush before the buffered
    payload actually reaches the budget."""
    import pandas as pd

    from archvisier_spark.kernel.pdf import build_pdf
    from archvisier_spark.pipeline import paged

    def exploding_rasterize(payload: bytes, page: int = 1, dpi: int = 200) -> bytes:
        if page == 5 and b"zly" in payload:
            raise RuntimeError("pdftoppm crashed (simulated)")
        return fake_rasterize(payload, page=page, dpi=dpi)

    eng = RasterEngine(exploding_rasterize, fake_ocr, None)
    bad = ("warc://acc/bad", None,
           build_pdf([[f"zly strona {p}"] for p in range(6)]), "pl")
    good = [(f"warc://acc/{i}", None,
             build_pdf([[f"strona {p} dok {i}"] for p in range(2)]), "pl")
            for i in range(8)]
    batch = pd.DataFrame([bad, *good], columns=["url", "warc_ts", "html", "lang"])
    # four retracted 20-byte rasters: a stale accumulator would flush the
    # first frame with only the error row and one document buffered
    monkeypatch.setattr(paged, "SPLIT_FLUSH_BYTES", 120)
    frames = list(paged._split_batches("auto", "raster", eng)(iter([batch])))
    assert len(frames) > 1
    for frame in frames[:-1]:
        payload = sum(len(b) if b is not None else 0 for b in frame["page_blob"])
        payload += sum(len(t) for t in frame["page_text"])
        assert payload >= paged.SPLIT_FLUSH_BYTES, frame["url"].tolist()
