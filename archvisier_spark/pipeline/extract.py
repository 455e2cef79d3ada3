"""The flagship extraction job — E1 lifted onto Spark (SURVEY.md §3).

Reference dataflow (gui/processing_worker.py:435-524): sorted scan →
parallel per-document OCR → metadata cascade → sequential numbering →
rename.  Spark shape::

    documents(url, warc_ts, html, text, lang)
      → size-aware repartition (skew defusal, SURVEY.md §4)
      → mapInPandas(extract_batch)          # Arrow batches, kernel per doc
      → with_sequence(lp)                    # scalable counter semantics
      → new_name via filename_for            # X14

All per-document logic is the pure kernel, executed inside Arrow-batched
``mapInPandas`` so Python is entered once per batch, never per row on the
driver (north rule).  Errors stay data: a malformed payload produces a row
with the reference's error literals, never a task failure.
"""

from __future__ import annotations

from typing import Iterator

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


# keys of the fixed info record — anything else in the cascade output is a
# dynamic extra (overflow MAP column)
_CORE_INFO_KEYS = frozenset(
    ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
     "sygnatura_sprawy", "typ_dokumentu", "status", "colors")
)


def _metadata_columns(cols: dict, url, warc_ts, lang, fmt, text, status, n_bytes,
                      work_mode: str, case_signature: str,
                      entity_provider=None, llm_tier=None) -> None:
    """Append one output row (cascade + spans) to the column accumulators."""
    info = extract_info_from_text(text, url, work_mode, case_signature,
                                  entity_provider=entity_provider,
                                  llm_tier=llm_tier)
    cols["url"].append(url)
    cols["warc_ts"].append(warc_ts)
    cols["lang"].append(lang)
    cols["format"].append(fmt)
    cols["extracted_text"].append(text)
    cols["status"].append(status)
    cols["data"].append(info["data"])
    cols["nadawca_odbiorca"].append(info["nadawca_odbiorca"])
    cols["w_sprawie"].append(info["w_sprawie"])
    cols["numer_dokumentu"].append(info["numer_dokumentu"])
    cols["sygnatura_sprawy"].append(info["sygnatura_sprawy"])
    cols["typ_dokumentu"].append(info["typ_dokumentu"])
    cols["doc_status"].append(info["status"])
    cols["colors"].append(info["colors"])
    cols["extra"].append(
        {k: str(v) for k, v in info.items() if k not in _CORE_INFO_KEYS}
    )
    cols["spans"].append(info_spans(text, info))
    cols["n_chars"].append(len(text))
    cols["n_bytes"].append(n_bytes)


_FIELD_NAMES = [f.name for f in EXTRACT_SCHEMA.fields]


def _build_provider(entity_rules):
    """Entity rules travel as plain (label, phrase) tuples — picklable —
    and compile into a RuleNer once per closure, not per row."""
    if not entity_rules:
        return None
    from archvisier_spark.kernel.ner import RuleNer

    return RuleNer(entity_rules)


def make_extract_batch(language: str, work_mode: str, case_signature: str,
                       entity_rules=None, llm_tier=None,
                       use_content_type: bool = False,
                       ocr_mode: str = "text", ocr_engine=None):
    """Build the mapInPandas function (closure keeps config serialisable)."""
    provider = _build_provider(entity_rules)

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # column-wise accumulation: cheaper pandas/Arrow materialisation
            # than a list of per-row dicts
            cols: dict[str, list] = {name: [] for name in _FIELD_NAMES}
            cts = batch["content_type"] if use_content_type else [None] * len(batch)
            for url, warc_ts, html, lang, ct in zip(
                batch["url"], batch["warc_ts"], batch["html"], batch["lang"], cts
            ):
                payload = bytes(html) if html is not None else None
                text, status, fmt = extract_document_text(payload, language, ct,
                                                          ocr_mode, ocr_engine)
                _metadata_columns(cols, url, warc_ts, lang, fmt, text, status,
                                  len(payload) if payload else 0,
                                  work_mode, case_signature,
                                  entity_provider=provider, llm_tier=llm_tier)
            yield pd.DataFrame(cols, columns=_FIELD_NAMES)

    return extract_batch


def _arrow_out_schema(in_schema):
    """Arrow output schema for the extraction batch, inheriting the input's
    exact timestamp type (tz metadata must round-trip untouched)."""
    import pyarrow as pa

    string_fields = [
        "format", "extracted_text", "status", "data", "nadawca_odbiorca",
        "w_sprawie", "numer_dokumentu", "sygnatura_sprawy", "typ_dokumentu",
        "doc_status",
    ]
    return pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", in_schema.field("warc_ts").type),
            pa.field("lang", pa.string()),
            *[pa.field(n, pa.string()) for n in string_fields],
            pa.field("colors", pa.map_(pa.string(), pa.string())),
            pa.field("extra", pa.map_(pa.string(), pa.string())),
            pa.field(
                "spans",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("start", pa.int32()),
                            pa.field("end", pa.int32()),
                            pa.field("label", pa.string()),
                        ]
                    )
                ),
            ),
            pa.field("n_chars", pa.int64()),
            pa.field("n_bytes", pa.int64()),
        ]
    )


def make_extract_arrow(language: str, work_mode: str, case_signature: str,
                       entity_rules=None, llm_tier=None,
                       use_content_type: bool = False,
                       ocr_mode: str = "text", ocr_engine=None):
    """mapInArrow variant of :func:`make_extract_batch` — identical kernel
    calls, minimal memory traffic: the pandas materialisation is skipped on
    BOTH sides, and the columns the kernel never touches (url array for
    output, warc_ts, lang) pass through as the input's own Arrow buffers
    (zero-copy), so only html payload bytes and the computed fields cross
    the Arrow↔Python object boundary."""
    import pyarrow as pa

    provider = _build_provider(entity_rules)
    computed = [n for n in _FIELD_NAMES if n not in ("url", "warc_ts", "lang")]

    def extract_batches(batches):
        out_schema = None
        for batch in batches:
            if out_schema is None:
                out_schema = _arrow_out_schema(batch.schema)
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            # transport-layer charset (WARC Content-Type), when the table
            # carries it — WHATWG precedence BOM → header → meta prescan
            cts = (
                batch.column("content_type").to_pylist()
                if use_content_type
                else [None] * len(urls)
            )
            cols: dict[str, list] = {name: [] for name in computed}
            for url, html, ct in zip(urls, htmls, cts):
                payload = bytes(html) if html is not None else None
                text, status, fmt = extract_document_text(payload, language, ct,
                                                          ocr_mode, ocr_engine)
                info = extract_info_from_text(text, url, work_mode, case_signature,
                                              entity_provider=provider,
                                              llm_tier=llm_tier)
                cols["format"].append(fmt)
                cols["extracted_text"].append(text)
                cols["status"].append(status)
                cols["data"].append(info["data"])
                cols["nadawca_odbiorca"].append(info["nadawca_odbiorca"])
                cols["w_sprawie"].append(info["w_sprawie"])
                cols["numer_dokumentu"].append(info["numer_dokumentu"])
                cols["sygnatura_sprawy"].append(info["sygnatura_sprawy"])
                cols["typ_dokumentu"].append(info["typ_dokumentu"])
                cols["doc_status"].append(info["status"])
                cols["colors"].append(info["colors"])
                cols["extra"].append(
                    {k: str(v) for k, v in info.items() if k not in _CORE_INFO_KEYS}
                )
                cols["spans"].append(info_spans(text, info))
                cols["n_chars"].append(len(text))
                cols["n_bytes"].append(len(payload) if payload else 0)
            arrays = [
                batch.column("url"),
                batch.column("warc_ts"),
                batch.column("lang"),
                *[
                    pa.array(cols[f.name], type=f.type)
                    for f in out_schema
                    if f.name in computed
                ],
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return extract_batches


def make_metadata_batch(work_mode: str, case_signature: str, entity_rules=None,
                        llm_tier=None):
    """mapInPandas stage over rows whose text is ALREADY extracted
    (page-parallel path): runs only the cascade + spans."""
    provider = _build_provider(entity_rules)

    def metadata_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            cols: dict[str, list] = {name: [] for name in _FIELD_NAMES}
            for url, warc_ts, lang, fmt, text, status, n_bytes in zip(
                batch["url"], batch["warc_ts"], batch["lang"], batch["format"],
                batch["extracted_text"], batch["status"], batch["n_bytes"],
            ):
                _metadata_columns(cols, url, warc_ts, lang, fmt, text, status,
                                  int(n_bytes), work_mode, case_signature,
                                  entity_provider=provider, llm_tier=llm_tier)
            yield pd.DataFrame(cols, columns=_FIELD_NAMES)

    return metadata_batch


# Fine-grained task multiple: 8 tasks per core keeps the scheduler's
# finish-time balancing effective against per-document cost variance (the
# Spark analog of the reference's work-stealing pool,
# training_ocr.cpp:305-311) without meaningful scheduling overhead.
TASKS_PER_CORE = 8


def extract_documents(
    df: DataFrame,
    language: str = "auto",
    work_mode: str = "KP",
    case_signature: str = "",
    partitions: int | None = None,
    paged_threshold: int | None = None,
    shuffle: bool = False,
    entity_rules=None,
    llm_tier=None,
    arrow: bool = True,
    ocr_mode: str = "text",
    ocr_engine=None,
) -> DataFrame:
    """Distributed sniff→extract→cascade over the north-rule table.

    **Map-only by default** (``shuffle=False``): the extraction UDF runs
    directly on the scan partitions, so the megabyte payload column never
    crosses a shuffle — measured on this box, feeding Arrow batches out of
    shuffle files anti-scales (32 threads 2.5× slower than 8), while
    scan-fed batches scale cleanly.  Balance then comes from input splits:
    size-based (``spark.sql.files.maxPartitionBytes``), which is exactly
    the right granularity for byte-skewed documents.  Writers of the input
    table control split width; the corpus generator and lineage chunks
    both emit fine-grained files.

    ``shuffle=True``: for pathologically-laid-out inputs (one giant file,
    no row-group splits) fall back to an explicit url-hash fan-out into
    ``cores × TASKS_PER_CORE`` tasks (the work-stealing analog,
    training_ocr.cpp:305-311).

    ``paged_threshold``: optionally route payloads above this many bytes
    through page-level parallelism (pipeline/paged.py) — the answer for
    documents so large that even one-doc-per-task is too coarse.

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
    spark = df.sparkSession
    # r07: pin the extraction split size at call time.  Scan partitioning
    # is decided from the session conf AT EXECUTION, and the ops table
    # reader (ops/io_util.read_table) legitimately raises the split size
    # for row-group-bound relational scans — an interleaved workload
    # (bench.py alternates extraction and ops queries) must not leak that
    # coarse setting into the split-fed map-only extraction stage, whose
    # multi-wave task granularity comes entirely from 1 MB splits.
    from archvisier_spark.session import MAX_PARTITION_BYTES

    spark.conf.set("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
    n_parts = partitions or spark.sparkContext.defaultParallelism
    # optional transport-layer charset column (WARC Content-Type header):
    # propagated into the decode when the table carries it
    has_ct = "content_type" in df.columns
    in_cols = ["url", "warc_ts", "html", "lang"] + (["content_type"] if has_ct else [])
    cols = df.select(*in_cols)

    def run(frame: DataFrame) -> DataFrame:
        if shuffle:
            frame = frame.repartition(n_parts * TASKS_PER_CORE, "url")
        if arrow:
            # mapInArrow: same kernel, no pandas materialisation, untouched
            # columns pass through as the input's own Arrow buffers
            fn = make_extract_arrow(language, work_mode, case_signature,
                                    entity_rules, llm_tier,
                                    use_content_type=has_ct,
                                    ocr_mode=ocr_mode, ocr_engine=ocr_engine)
            return frame.mapInArrow(fn, EXTRACT_SCHEMA)
        fn = make_extract_batch(language, work_mode, case_signature,
                                entity_rules, llm_tier,
                                use_content_type=has_ct,
                                ocr_mode=ocr_mode, ocr_engine=ocr_engine)
        return frame.mapInPandas(fn, EXTRACT_SCHEMA)

    if paged_threshold is not None:
        from archvisier_spark.pipeline.paged import extract_documents_paged

        huge = cols.filter(F.length("html") >= paged_threshold)
        rest = cols.filter(F.length("html") < paged_threshold)
        return run(rest).unionByName(
            extract_documents_paged(
                huge, language=language, work_mode=work_mode,
                case_signature=case_signature, partitions=n_parts,
                ocr_mode=ocr_mode, ocr_engine=ocr_engine,
            )
        )

    return run(cols)


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


def with_display_numbers(
    df: DataFrame,
    work_mode: str = "KP",
    ts_col: str = "warc_ts",
    keys_df: DataFrame | None = None,
    out_col: str = "display_number",
) -> DataFrame:
    """Append the year-scoped counter (``lp_year``) and its display string.

    The reference keeps session counters keyed ``"{work_mode}/{year}"``
    (SA mode in a separate dict, gui/pdf_processor_app.py:596-616) and
    renders them with the TYPE_PATTERNS literals ``KP/{num}/{year}`` /
    ``SA{num}_{year}`` (gui/constants.py:9-13).  Spark form: the two-phase
    dense-rank numbering partitioned by ``(work_mode, year(ts_col))`` —
    equal to the sequential counter bumps given sorted input — with the
    display string built from JVM expressions (no UDF).
    """
    year = F.year(F.col(ts_col)).cast("int")
    base = df.withColumn("work_mode", F.lit(work_mode)).withColumn("__year", year)
    keys = (
        keys_df.select("url", ts_col)
        .withColumn("work_mode", F.lit(work_mode))
        .withColumn("__year", year)
        .drop(ts_col)
        if keys_df is not None
        else None
    )
    numbered = with_sequence(
        base,
        order_col="url",
        partition_cols=("work_mode", "__year"),
        out_col="lp_year",
        keys_df=keys,
    )
    return numbered.withColumn(out_col, display_number_col(work_mode)).drop("__year")


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
    assume_sorted: bool = False,
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

    ``assume_sorted``: the table is stored sorted by url (Iceberg url
    sort order) — numbering then skips the payload re-attach join
    entirely (``with_sequence_sorted``: offsets + in-partition record
    index, zero payload Exchange).  The work_mode counter restart is
    vacuous here (one constant mode per run), so the ungrouped fast path
    is exact.  Raises ``ValueError`` if the claimed sort order doesn't
    hold.
    """
    if assume_sorted:
        from archvisier_spark.pipeline.numbering import with_sequence_sorted

        numbered = with_sequence_sorted(
            extracted, order_col="url", out_col="lp", keys_df=keys_df
        ).withColumn("work_mode", F.lit(work_mode))
    else:
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
