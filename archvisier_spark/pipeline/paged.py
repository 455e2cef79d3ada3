"""Page-parallel extraction for mega-documents (the 100 TB skew answer).

Round-robin repartitioning balances heavy DOCUMENTS across tasks, but one
10 GB PDF is still one task — at cluster scale the unit of parallelism has
to drop to the PAGE (the reference's own progress/parallelism granularity,
processing/ocr.py:229-230).  Dataflow::

    big docs → mapInPandas: parse PDF → one row per page (raw page text)
             → repartition(url, page_idx)               # page-level balance
             → pandas_udf: per-page language + dictionary repair (the
               dominant cost, now parallel across pages of one doc)
             → groupBy(url): array_sort(collect_list(struct(idx, text)))
               → concat(page + "\\n")                   # reassembly
             → mapInArrow: metadata cascade + spans (the extraction
               stage's row builder)

Byte-identity: the reassembled text equals the doc-at-once path exactly —
pinned by tests/test_paged_extract.py differentials, including error rows
(empty/malformed PDFs, non-PDF payloads fall back to doc-at-once results
carried through the page stream as single pre-extracted rows).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from archvisier_spark.kernel.document import (
    OCR_ERROR_PREFIX,
    RasterEngine,
    extract_document_text,
    ocr_page_auto,
)
from archvisier_spark.kernel.pdf import pdf_page_count, pdf_page_texts
from archvisier_spark.kernel.sniffer import FORMAT_PDF, sniff_format
from archvisier_spark.kernel.textfix import correct_text, detect_lang
from archvisier_spark.pipeline.extract import EXTRACT_SCHEMA, with_metadata

# page_idx >= 0: a raw PDF page awaiting repair; page_idx == -1: a document
# already fully extracted in the split stage (errors, HTML, plain text).
# page_blob carries the page RASTER in ocr_mode="raster" (page_text is
# then filled by the distributed OCR stage); NULL on the text path.
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("format", T.StringType(), False),
        T.StructField("page_idx", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("page_blob", T.BinaryType(), True),
    ]
)


# Per-task output buffer budget for the split stage: rows flush to a
# pandas frame once the buffered page payload crosses this, BETWEEN
# documents (r07 ADVICE fix: the old code built every page raster of a
# document into one list AND one whole-batch frame — with real ~1 MB
# 200-DPI rasters a multi-thousand-page PDF held gigabytes per task).
# The irreducible floor is ONE document's pages: the abort-the-document
# contract (a rasteriser error mid-document must yield a single error
# row, no page rows) requires buffering a document before any of its
# rows becomes final.
SPLIT_FLUSH_BYTES = 64 << 20


def _split_batches(language: str, ocr_mode: str = "text", ocr_engine=None):
    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import traceback

        eng = ocr_engine or RasterEngine()
        names = [f.name for f in PAGE_SCHEMA.fields]
        cols = {n: [] for n in names}
        acc = 0

        def emit(url, warc_ts, lang, fmt, idx, text, status, n_bytes,
                 blob=None):
            nonlocal acc
            cols["url"].append(url)
            cols["warc_ts"].append(warc_ts)
            cols["lang"].append(lang)
            cols["format"].append(fmt)
            cols["page_idx"].append(idx)
            cols["page_text"].append(text)
            cols["status"].append(status)
            cols["n_bytes"].append(n_bytes)
            cols["page_blob"].append(blob)
            acc += (len(blob) if blob else 0) + len(text)

        def flush() -> pd.DataFrame:
            nonlocal cols, acc
            out = pd.DataFrame(cols, columns=names)
            cols = {n: [] for n in names}
            acc = 0
            return out

        for batch in batches:
            for url, warc_ts, html, lang in zip(
                batch["url"], batch["warc_ts"], batch["html"], batch["lang"]
            ):
                payload = bytes(html) if html is not None else None
                n_bytes = len(payload) if payload else 0
                fmt = sniff_format(payload)
                if fmt == FORMAT_PDF and ocr_mode == "raster":
                    # rasterise with the payload in hand, emitting each
                    # page straight into the output buffer (no separate
                    # all-pages list).  Failure semantics unchanged: any
                    # rasteriser error retracts this document's buffered
                    # page rows and aborts the DOCUMENT into one error
                    # data row; the expensive OCR runs page-parallel
                    # downstream.
                    from archvisier_spark.kernel.pdf import rasterize_pdf_page

                    rasterize = eng.rasterize_fn or rasterize_pdf_page
                    mark, mark_acc = len(cols["url"]), acc
                    try:
                        n_pages = pdf_page_count(payload)
                        for p in range(1, n_pages + 1):
                            emit(url, warc_ts, lang, fmt, p - 1, "", "",
                                 n_bytes, blob=rasterize(payload, page=p))
                    except Exception as e:
                        for lst in cols.values():
                            del lst[mark:]
                        acc = mark_acc
                        emit(url, warc_ts, lang, fmt, -1,
                             f"{OCR_ERROR_PREFIX}{e}",
                             traceback.format_exc(), n_bytes)
                    else:
                        if n_pages == 0:
                            text, status, fmt = extract_document_text(
                                payload, language, None, "raster", eng
                            )
                            emit(url, warc_ts, lang, fmt, -1, text, status,
                                 n_bytes)
                    if acc >= SPLIT_FLUSH_BYTES:
                        yield flush()
                    continue
                if fmt == FORMAT_PDF:
                    try:
                        pages = pdf_page_texts(payload)
                    except Exception:
                        pages = []
                    if pages:
                        for idx, page in enumerate(pages):
                            emit(url, warc_ts, lang, fmt, idx, page, "", n_bytes)
                        if acc >= SPLIT_FLUSH_BYTES:
                            yield flush()
                        continue
                # non-PDF / empty / malformed: doc-at-once result rides along
                text, status, fmt = extract_document_text(
                    payload, language, None, ocr_mode, eng
                )
                emit(url, warc_ts, lang, fmt, -1, text, status, n_bytes)
                if acc >= SPLIT_FLUSH_BYTES:
                    yield flush()
            # frame boundary per input batch (keeps output frames bounded
            # by the input batch extent when under budget)
            if cols["url"]:
                yield flush()

    return split


def _ocr_batches(language: str, ocr_engine=None):
    """Page-parallel OCR + repair stage for ocr_mode="raster": one row per
    rasterised page, the two-pass auto-language decision per page (same
    sequence as the doc-at-once loop), errors marked per page and folded
    into ONE document error row at reassembly — never a task failure.

    Memory note for real deployments: a 200-DPI PNG raster is ~1 MB, so
    the default Arrow batch of 512 rows would materialise ~0.5 GB per
    pandas batch — set ``spark.sql.execution.arrow.maxRecordsPerBatch``
    to O(32) on raster jobs (the engine's session builder already bounds
    it via ``SPARK_GRAFT_ARROW_BATCH_ROWS``)."""
    from archvisier_spark.kernel.pdf import ocr_page_image

    def ocr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import traceback

        eng = ocr_engine or RasterEngine()
        engine_ocr = eng.ocr_fn or (
            lambda img, lng, cfg: ocr_page_image(img, lang=lng, config=cfg)
        )
        for batch in batches:
            texts, statuses = [], []
            for blob, text, status in zip(
                batch["page_blob"], batch["page_text"], batch["status"]
            ):
                if blob is None:
                    texts.append(text)
                    statuses.append(status)
                    continue
                try:
                    page_text, lng = ocr_page_auto(
                        bytes(blob), language, engine_ocr, eng.detect_fn
                    )
                    texts.append(correct_text(page_text, lng))
                    statuses.append("")
                except Exception as e:
                    texts.append(f"{OCR_ERROR_PREFIX}{e}")
                    statuses.append(traceback.format_exc())
            out = batch.drop(columns=["page_blob"]).copy()
            out["page_text"] = texts
            out["status"] = statuses
            out["page_blob"] = None
            yield out[[f.name for f in PAGE_SCHEMA.fields]]

    return ocr


def extract_documents_paged(
    df: DataFrame,
    language: str = "auto",
    work_mode: str = "KP",
    case_signature: str = "",
    partitions: int | None = None,
    entity_rules=None,
    llm_tier=None,
    ocr_mode: str = "text",
    ocr_engine=None,
) -> DataFrame:
    """EXTRACT_SCHEMA output via page-level parallelism (heavy-doc path).

    ``entity_rules`` and ``llm_tier`` configure the cascade tiers exactly
    as in ``extract_documents``.

    ``ocr_mode="raster"``: the split stage rasterises pages (payload in
    hand), rasters fan out across tasks, and the expensive OCR + repair
    runs page-parallel — the regime the skew probe names as this path's
    reason to exist (~1 s/page makes the page shuffle noise).  OCR
    failures mark their page and fold into ONE document error row at
    reassembly (the doc-at-once loop's first-failing-page semantics);
    rasteriser failures abort the document in the split stage."""
    spark = df.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism

    pages = (
        df.select("url", "warc_ts", "html", "lang")
        .repartition(n_parts * 4)
        .mapInPandas(_split_batches(language, ocr_mode, ocr_engine),
                     PAGE_SCHEMA)
    )

    @F.pandas_udf(T.StringType())
    def repair_page(texts: pd.Series, idxs: pd.Series) -> pd.Series:
        out = []
        for text, idx in zip(texts, idxs):
            if idx < 0:
                out.append(text)  # pre-extracted passthrough
                continue
            if language == "auto":
                lang = "pol" if detect_lang(text) == "pl" else "eng"
            else:
                lang = language
            out.append(correct_text(text, lang))
        return pd.Series(out)

    balanced = pages.repartition(n_parts * 4, "url", "page_idx")
    if ocr_mode == "raster":
        repaired = balanced.mapInPandas(
            _ocr_batches(language, ocr_engine), PAGE_SCHEMA
        )
    else:
        repaired = balanced.withColumn(
            "page_text", repair_page("page_text", "page_idx")
        )
    repaired = repaired.drop("page_blob")

    # Reassemble per url: pages sorted by index, each suffixed "\n"
    # (processing/ocr.py:228 contract); page_idx=-1 rows pass through.
    assembled = (
        repaired.groupBy("url", "warc_ts", "lang", "format", "n_bytes")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("page_idx", "page_text", "status"))
            ).alias("parts")
        )
        .select(
            "url",
            "warc_ts",
            "lang",
            "format",
            "n_bytes",
            # per-page OCR failures (status set, page_idx >= 0) fold into
            # one document error row using the FIRST failing page (parts
            # are sorted by page_idx) — the doc-at-once loop's semantics
            F.filter(
                "parts",
                lambda pt: (pt["status"] != F.lit("")) & (pt["page_idx"] >= 0),
            ).alias("__errs"),
            "parts",
        )
        .select(
            "url",
            "warc_ts",
            "lang",
            "format",
            "n_bytes",
            F.when(
                F.element_at("parts", 1)["page_idx"] < 0,
                F.element_at("parts", 1)["page_text"],
            )
            .when(F.size("__errs") > 0, F.element_at("__errs", 1)["page_text"])
            .otherwise(
                F.concat_ws(
                    "", F.transform("parts", lambda p: F.concat(p["page_text"], F.lit("\n")))
                )
            )
            .alias("extracted_text"),
            F.when(
                F.element_at("parts", 1)["page_idx"] < 0,
                F.element_at("parts", 1)["status"],
            )
            .when(F.size("__errs") > 0, F.element_at("__errs", 1)["status"])
            .otherwise(F.lit("Sukces"))
            .alias("status"),
        )
    )

    return with_metadata(
        assembled.repartition(n_parts, "url"), work_mode, case_signature,
        entity_rules, llm_tier,
    ).select(*EXTRACT_SCHEMA.fieldNames())
