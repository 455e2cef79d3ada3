"""The flagship extraction job — E1 lifted onto Spark (SURVEY.md §3).

Reference dataflow (gui/processing_worker.py:435-524): sorted scan →
parallel per-document OCR → metadata cascade → sequential numbering →
rename.  Spark shape::

    documents(url, warc_ts, html, text, lang)
      → mapInArrow(extract_batches)         # on the scan splits, kernel per doc
      → with_sequence(lp)                    # scalable counter semantics
      → new_name via filename_for            # X14

All per-document logic is the pure kernel, executed inside
``mapInArrow`` so Python is entered once per batch, never per row on the
driver (north rule).  Errors stay data: a malformed payload produces a row
with the reference's error literals, never a task failure.
"""

from __future__ import annotations

import functools
from collections import defaultdict

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from archvisier_spark.kernel.cascade import extract_info_from_text
from archvisier_spark.kernel.document import extract_document_text
from archvisier_spark.kernel.naming import filename_for
from archvisier_spark.kernel.spans import detect_document_type_span, find_all_occurrences
from archvisier_spark.pipeline.numbering import with_sequence

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("label", T.StringType(), False),
        ]
    )
)

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("format", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("data", T.StringType(), False),
        T.StructField("nadawca_odbiorca", T.StringType(), False),
        T.StructField("w_sprawie", T.StringType(), False),
        T.StructField("numer_dokumentu", T.StringType(), False),
        T.StructField("sygnatura_sprawy", T.StringType(), False),
        T.StructField("typ_dokumentu", T.StringType(), False),
        T.StructField("doc_status", T.StringType(), False),
        T.StructField("colors", T.MapType(T.StringType(), T.StringType()), False),
        # dynamic extra keys (the reference's late-bound columns,
        # pdf_processor_app.py:714-731) as a schema-stable overflow MAP
        T.StructField("extra", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("spans", SPAN_TYPE, False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

# Extracted-field -> span label, mirroring the training-side column map
# (training_engine.py:37-42 via spans.COLUMN_LABELS).
_FIELD_LABELS = (
    ("data", "DATA"),
    ("nadawca_odbiorca", "ORGANIZACJA"),
    ("w_sprawie", "TYTUL_PISMA"),
    ("numer_dokumentu", "NR_DOKUMENTU"),
    ("sygnatura_sprawy", "SYGNATURA_SPRAWY"),
)


def info_spans(text: str, info: dict) -> list[dict]:
    """Char-span offsets of every extracted value (X18 contract) plus the
    keyword document-type span (X19)."""
    spans: list[dict] = []
    for field, label in _FIELD_LABELS:
        value = info.get(field, "")
        if not value:
            continue
        for start in find_all_occurrences(text, value):
            spans.append({"start": start, "end": start + len(value), "label": label})
    doc_type, start, end = detect_document_type_span(text)
    if doc_type is not None:
        spans.append({"start": start, "end": end, "label": "TYP_DOKUMENTU"})
    return spans


_FIELD_NAMES = [f.name for f in EXTRACT_SCHEMA.fields]

# the cascade fields copied verbatim into same-named output columns
_INFO_FIELDS = ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
                "sygnatura_sprawy", "typ_dokumentu")
# keys of the fixed info record — anything else in the cascade output is a
# dynamic extra (overflow MAP column)
_CORE_INFO_KEYS = frozenset((*_INFO_FIELDS, "status", "colors"))
# the columns _append_metadata fills, in EXTRACT_SCHEMA order
_METADATA_NAMES = [*_INFO_FIELDS, "doc_status", "colors", "extra", "spans", "n_chars"]


def _build_provider(entity_rules):
    """Entity rules travel as plain (label, phrase) tuples — picklable —
    and compile into a RuleNer once per closure, not per row."""
    if not entity_rules:
        return None
    from archvisier_spark.kernel.ner import RuleNer

    return RuleNer(entity_rules)


def _cascade(work_mode: str, case_signature: str, entity_rules, llm_tier):
    """``cascade(text, url)`` with the run's configuration bound."""
    return functools.partial(
        extract_info_from_text, mode=work_mode,
        case_signature_override=case_signature,
        entity_provider=_build_provider(entity_rules), llm_tier=llm_tier,
    )


def _append_metadata(cols: dict, text: str, url: str, cascade) -> None:
    """Run the cascade on one row and append its fields, ``doc_status``,
    ``colors``, ``extra``, ``spans`` and ``n_chars`` to the column
    accumulators — the one place a cascade result becomes output columns."""
    info = cascade(text, url)
    for name in _INFO_FIELDS:
        cols[name].append(info[name])
    cols["doc_status"].append(info["status"])
    cols["colors"].append(info["colors"])
    cols["extra"].append(
        {k: str(v) for k, v in info.items() if k not in _CORE_INFO_KEYS}
    )
    cols["spans"].append(info_spans(text, info))
    cols["n_chars"].append(len(text))


@functools.cache
def _arrow_types() -> dict:
    from pyspark.sql.pandas.types import to_arrow_type

    return {f.name: to_arrow_type(f.dataType) for f in EXTRACT_SCHEMA.fields}


def _record_batch(batch, cols: dict, names: list[str]):
    """The output batch with columns ``names``.  Every output column the
    input batch already carries passes through as the input's own Arrow
    buffer (zero-copy, timestamp tz metadata untouched); every other
    column is built from the accumulators."""
    import pyarrow as pa

    carried = set(batch.schema.names)
    types = _arrow_types()
    return pa.RecordBatch.from_arrays(
        [
            batch.column(n) if n in carried else pa.array(cols[n], type=types[n])
            for n in names
        ],
        names=names,
    )


def make_extract_arrow(language: str, work_mode: str, case_signature: str,
                       entity_rules=None, llm_tier=None,
                       use_content_type: bool = False,
                       ocr_mode: str = "text", ocr_engine=None):
    """The mapInArrow extraction stage: sniff → extract → cascade → spans
    per document.  No pandas materialisation on either side: only the url,
    html payload (and ``content_type``) columns and the computed fields
    cross the Arrow↔Python object boundary; url, warc_ts and lang go back
    out as the input's own Arrow buffers."""
    cascade = _cascade(work_mode, case_signature, entity_rules, llm_tier)

    def extract_batches(batches):
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            # transport-layer charset (WARC Content-Type), when the table
            # carries it — WHATWG precedence BOM → header → meta prescan
            cts = (
                batch.column("content_type").to_pylist()
                if use_content_type
                else [None] * len(urls)
            )
            cols: dict[str, list] = defaultdict(list)
            for url, html, ct in zip(urls, htmls, cts):
                payload = bytes(html) if html is not None else None
                text, status, fmt = extract_document_text(payload, language, ct,
                                                          ocr_mode, ocr_engine)
                cols["format"].append(fmt)
                cols["extracted_text"].append(text)
                cols["status"].append(status)
                cols["n_bytes"].append(len(payload) if payload else 0)
                _append_metadata(cols, text, url, cascade)
            yield _record_batch(batch, cols, _FIELD_NAMES)

    return extract_batches


def with_metadata(df: DataFrame, work_mode: str = "KP", case_signature: str = "",
                  entity_rules=None, llm_tier=None) -> DataFrame:
    """The cascade stage over rows whose text is ALREADY extracted: reads
    ``url`` and ``extracted_text`` and appends the metadata columns
    (``data`` … ``typ_dokumentu``, ``doc_status``, ``colors``, ``extra``,
    ``spans``, ``n_chars``) in one mapInArrow.  Every input column goes
    back out as its own Arrow buffer; the input must carry none of the
    metadata column names and no null ``extracted_text``."""
    cascade = _cascade(work_mode, case_signature, entity_rules, llm_tier)

    def metadata_batches(batches):
        for batch in batches:
            cols: dict[str, list] = defaultdict(list)
            for url, text in zip(batch.column("url").to_pylist(),
                                 batch.column("extracted_text").to_pylist()):
                _append_metadata(cols, text, url, cascade)
            yield _record_batch(batch, cols, batch.schema.names + _METADATA_NAMES)

    schema = T.StructType(
        [*df.schema.fields, *(EXTRACT_SCHEMA[n] for n in _METADATA_NAMES)]
    )
    return df.mapInArrow(metadata_batches, schema)


def extract_documents(
    df: DataFrame,
    language: str = "auto",
    work_mode: str = "KP",
    case_signature: str = "",
    entity_rules=None,
    llm_tier=None,
    ocr_mode: str = "text",
    ocr_engine=None,
) -> DataFrame:
    """Distributed sniff→extract→cascade over the north-rule table.

    **One plan, map-only**: a single ``mapInArrow`` stage runs directly on
    the scan partitions, so the megabyte payload column never crosses a
    shuffle — on a 32-core box, feeding Arrow batches out of shuffle files
    anti-scaled (32 threads 2.5× slower than 8), while scan-fed batches
    scaled cleanly.  Balance then comes from input splits, sized by the
    session's one planner rule (``archvisier_spark.session``: about one
    split per core, whole small files packed together, more only when the
    bytes pass 128 MB a split): every Python task pays a fixed worker
    setup, so one wave per core beats finer splits even on byte-skewed
    documents.  The unit of work is the document: every page of a PDF is
    extracted in the task that reads it.  Writers of the input table
    control file width; the corpus generator and lineage chunks both emit
    fine-grained files.

    ``ocr_engine``: optional :class:`~archvisier_spark.kernel.document.
    RasterEngine` overriding the raster path's rasterise/OCR/detect hooks
    (module-level callables — pickled by reference into the closure); the
    real subprocess binaries when ``None``.

    ``ocr_mode="raster"``: run the reference's real OCR path for PDFs
    (rasterise every page via Poppler, OCR each raster via Tesseract —
    kernel/document.extract_pdf_text_raster) instead of the content-stream
    text layer.  For scanned/raster-only corpora on a cluster with the
    binaries (docker/Dockerfile.cluster); where they are absent each PDF
    becomes a ``BŁĄD TECHNICZNY OCR:`` data row — fail-visible, never a
    task failure.
    Returns EXTRACT_SCHEMA.
    """
    # optional transport-layer charset column (WARC Content-Type header):
    # propagated into the decode when the table carries it
    has_ct = "content_type" in df.columns
    in_cols = ["url", "warc_ts", "html", "lang"] + (["content_type"] if has_ct else [])
    cols = df.select(*in_cols)
    fn = make_extract_arrow(language, work_mode, case_signature,
                            entity_rules, llm_tier, use_content_type=has_ct,
                            ocr_mode=ocr_mode, ocr_engine=ocr_engine)
    return cols.mapInArrow(fn, EXTRACT_SCHEMA)


def observed_extraction(df: DataFrame, **kwargs):
    """Extraction with job-level progress metrics attached (A6).

    The reference streams ``("page_done", 1)`` events to a progress queue
    (processing/ocr.py:229-230, SURVEY.md §2.6 A6); the Spark-native form
    is an ``Observation`` on the output: docs/bytes/error counts arrive
    with task completion, at zero plan cost.  Returns
    ``(DataFrame, Observation)`` — read ``observation.get`` after an
    action."""
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    extracted = extract_documents(df, **kwargs).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("status") != "Sukces").cast("long")).alias("n_errors"),
    )
    return extracted, obs


def display_number_col(work_mode: str, year_col: str = "__year") -> Column:
    """The TYPE_PATTERNS display string (``KP/{num}/{year}`` /
    ``SA{num}_{year}``) from the ``lp_year`` and year columns, as JVM
    expressions (no UDF)."""
    num_s = F.col("lp_year").cast("string")
    year_s = F.col(year_col).cast("string")
    if work_mode == "SA":
        return F.concat(F.lit("SA"), num_s, F.lit("_"), year_s)
    return F.concat(F.lit(f"{work_mode}/"), num_s, F.lit("/"), year_s)


def with_new_names(
    extracted: DataFrame,
    work_mode: str = "KP",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Append ``lp`` (counter semantics, A2) and ``new_name`` (X14).

    ``lp`` = dense 1-based sequence in ``url`` order per work-mode — equal
    to the reference's sequential ``counters[mode]`` bumps over
    ``sorted(glob)`` (gui/processing_worker.py:320-322,373).  Naming runs
    in an Arrow-batched pandas UDF over the kernel's pure ``filename_for``.

    Pass ``keys_df`` = the raw input table (or any cheap 1:1 url source):
    extraction is 1-row-in→1-row-out, so input urls number the output —
    and the counting pre-pass then reads ONE pruned parquet column instead
    of re-running the extraction UDF.
    """
    keys = (
        keys_df.select("url").withColumn("work_mode", F.lit(work_mode))
        if keys_df is not None
        else None
    )
    numbered = with_sequence(
        extracted.withColumn("work_mode", F.lit(work_mode)),
        order_col="url",
        partition_cols=("work_mode",),
        out_col="lp",
        keys_df=keys,
    )
    return numbered.withColumn("new_name", new_name_col())


def new_name_col() -> Column:
    """``new_name`` (X14) from ``lp`` and the extracted fields: the kernel's
    pure ``filename_for`` in an Arrow-batched pandas UDF."""

    @F.pandas_udf(T.StringType())
    def name_udf(
        lp: pd.Series,
        sygnatura: pd.Series,
        numer: pd.Series,
        nadawca: pd.Series,
        typ: pd.Series,
        w_sprawie: pd.Series,
    ) -> pd.Series:
        return pd.Series(
            [
                filename_for(
                    {
                        "sygnatura_sprawy": s,
                        "numer_dokumentu": n,
                        "nadawca_odbiorca": na,
                        "typ_dokumentu": t,
                        "w_sprawie": w,
                    },
                    int(i),
                )
                for i, s, n, na, t, w in zip(lp, sygnatura, numer, nadawca, typ, w_sprawie)
            ]
        )

    return name_udf("lp", "sygnatura_sprawy", "numer_dokumentu",
                    "nadawca_odbiorca", "typ_dokumentu", "w_sprawie")
