"""Page-parallel path ≡ doc-at-once path, byte for byte."""

import pandas as pd
import pytest

from archvisier_spark.corpus import corpus_df
from archvisier_spark.pipeline.extract import extract_documents
from archvisier_spark.pipeline.paged import extract_documents_paged

FIELDS = (
    "extracted_text", "status", "format", "data", "nadawca_odbiorca",
    "w_sprawie", "numer_dokumentu", "sygnatura_sprawy", "typ_dokumentu",
    "doc_status", "n_chars", "n_bytes",
)


def _by_url(df):
    return {r["url"]: tuple(r[f] for f in FIELDS) for r in df.collect()}


def test_paged_equals_doc_at_once(spark):
    docs = corpus_df(spark, 40, seed=21, skew_every=4, skew_factor=30, partitions=4)
    assert _by_url(extract_documents_paged(docs, partitions=4)) == _by_url(
        extract_documents(docs, partitions=4)
    )


def test_paged_handles_error_and_nonpdf_rows(spark):
    pdf = pd.DataFrame(
        {
            "url": ["a", "b", "c", "d"],
            "warc_ts": pd.to_datetime(["2025-01-01"] * 4),
            "html": [
                b"%PDF-1.7\nno streams",                       # malformed pdf
                b"",                                            # empty
                b"<html><body><p>A perfectly long html paragraph of content.</p></body></html>",
                b"plain text payload goes here",
            ],
            "text": [""] * 4,
            "lang": ["pl"] * 4,
        }
    )
    docs = spark.createDataFrame(pdf)
    assert _by_url(extract_documents_paged(docs, partitions=2)) == _by_url(
        extract_documents(docs, partitions=2)
    )


def test_paged_multipage_order_preserved(spark):
    from archvisier_spark.kernel.pdf import build_pdf

    # words chosen > distance 2 from the repair dictionaries
    pages = [[f"strona numer {i} akapit dokumentu"] for i in range(25)]
    pdf = pd.DataFrame(
        {
            "url": ["multi"],
            "warc_ts": pd.to_datetime(["2025-01-01"]),
            "html": [build_pdf(pages)],
            "text": [""],
            "lang": ["pl"],
        }
    )
    docs = spark.createDataFrame(pdf)
    text = extract_documents_paged(docs, partitions=4).collect()[0]["extracted_text"]
    # 25 pages, page order intact despite page-level shuffling
    assert text == extract_documents(docs).collect()[0]["extracted_text"]
    assert text.splitlines()[0] == "strona numer 0 akapit dokumentu"
    assert text.splitlines()[24] == "strona numer 24 akapit dokumentu"


ENTITY_RULES = (
    ("ORGANIZACJA", "Urząd Miasta"),
    ("DATA", "June 15, 2024"),
    ("TYTUL_PISMA", "dostawy gazu"),
    ("SYGNATURA_SPRAWY", "VII K 123/20"),
)


def test_paged_branch_keeps_the_entity_tier(spark):
    """The same documents give the same rows below and above
    ``paged_threshold`` when a RuleNer rule set is configured."""
    docs = corpus_df(spark, 40, seed=7, skew_every=7, skew_factor=10, partitions=4)
    below = _by_url(extract_documents(docs, partitions=4, entity_rules=ENTITY_RULES,
                                      paged_threshold=1 << 40))
    above = _by_url(extract_documents(docs, partitions=4, entity_rules=ENTITY_RULES,
                                      paged_threshold=0))
    # the rules change some rows, so a branch that dropped them would differ
    assert below != _by_url(extract_documents(docs, partitions=4))
    assert above == below
