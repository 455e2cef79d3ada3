"""Differential tests: Spark pipeline output ≡ single-doc kernel output.

This is the byte-identity gate (BASELINE.md "Correctness"): for every url,
the distributed job must produce exactly the text/metadata/numbering the
sequential reference loop would — including on skewed megabyte payloads
and regardless of partitioning.
"""

import pytest

from archvisier_spark.corpus import corpus_df, generate_rows
from archvisier_spark.kernel import extract_document_text, extract_info_from_text
from archvisier_spark.kernel.naming import generate_new_filename
from archvisier_spark.pipeline.extract import extract_documents, info_spans, with_new_names

N_DOCS = 60


@pytest.fixture(scope="module")
def extracted(spark):
    docs = corpus_df(spark, N_DOCS, seed=42, skew_every=5, skew_factor=25, partitions=6)
    result = with_new_names(extract_documents(docs), work_mode="KP")
    rows = {r["url"]: r for r in result.collect()}
    assert len(rows) == N_DOCS
    return rows


@pytest.fixture(scope="module")
def oracle():
    """Sequential single-doc reference loop over the same corpus."""
    rows = generate_rows(N_DOCS, seed=42, skew_every=5, skew_factor=25)
    counters: dict = {}
    out = {}
    for row in sorted(rows, key=lambda r: r["url"]):  # sorted-scan order (T1)
        text, status, fmt = extract_document_text(bytes(row["html"]), "auto")
        info = extract_info_from_text(text, row["url"], "KP", "")
        new_name = generate_new_filename(info, "KP", counters)
        out[row["url"]] = {
            "expected_text": row["text"],
            "text": text,
            "status": status,
            "format": fmt,
            "info": info,
            "lp": counters["KP"],
            "new_name": new_name,
        }
    return out


def test_extracted_text_byte_identical(extracted, oracle):
    for url, ref in oracle.items():
        got = extracted[url]
        assert got["extracted_text"] == ref["text"], url
        # and the kernel itself recovers the generator's ground truth
        assert ref["text"] == ref["expected_text"], url


def test_status_and_format(extracted, oracle):
    for url, ref in oracle.items():
        got = extracted[url]
        assert got["status"] == ref["status"], url
        assert got["format"] == ref["format"], url


def test_metadata_fields_byte_identical(extracted, oracle):
    fields = ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
              "sygnatura_sprawy", "typ_dokumentu")
    for url, ref in oracle.items():
        got = extracted[url]
        for f in fields:
            assert got[f] == ref["info"][f], (url, f)
        assert got["doc_status"] == ref["info"]["status"], url
        assert dict(got["colors"]) == ref["info"]["colors"], url


def test_sequence_numbers_match_sequential_counters(extracted, oracle):
    # lp must equal the mutable-counter value of the sorted sequential loop
    for url, ref in oracle.items():
        assert extracted[url]["lp"] == ref["lp"], url


def test_new_names_byte_identical(extracted, oracle):
    for url, ref in oracle.items():
        assert extracted[url]["new_name"] == ref["new_name"], url


def test_spans_match_kernel(extracted, oracle):
    for url, ref in oracle.items():
        got = [(s["start"], s["end"], s["label"]) for s in extracted[url]["spans"]]
        want = [(s["start"], s["end"], s["label"])
                for s in info_spans(ref["text"], ref["info"])]
        assert got == want, url


def test_partitioning_invariance(spark):
    """Same corpus, different partitioning → identical output (determinism
    does not depend on physical layout)."""
    a = corpus_df(spark, 20, seed=7, partitions=1)
    b = corpus_df(spark, 20, seed=7, partitions=5)
    ra = {r["url"]: r["extracted_text"] for r in extract_documents(a).collect()}
    rb = {r["url"]: r["extracted_text"] for r in extract_documents(b).collect()}
    assert ra == rb


def test_errors_are_rows_not_failures(spark):
    """Garbage payloads must yield error rows with the reference literals."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2"],
            "warc_ts": pd.to_datetime(["2025-01-01", "2025-01-01"]),
            "html": [b"%PDF-1.7\nno streams at all", b""],
            "text": ["", ""],
            "lang": ["pl", "pl"],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = {r["url"]: r for r in extract_documents(df).collect()}
    assert rows["u1"]["extracted_text"] == "BŁĄD: Plik PDF jest pusty lub uszkodzony."
    assert rows["u2"]["format"] == "empty"
    assert rows["u2"]["extracted_text"] == ""


def test_extraction_equals_kernel_on_adversarial_payloads(spark):
    """The distributed extraction must match the single-doc kernel
    (extract_document_text → extract_info_from_text → info_spans) per row,
    byte-for-byte, on hostile inputs: null payloads, invalid utf-8, NUL
    bytes, BOM'd utf-16 HTML, legacy-codec HTML, truncated PDF magic, and a
    multi-hundred-KB document."""
    import pandas as pd

    big_html = (
        "<html><body>"
        + "".join(f"<p>paragraph {i} with enough characters to survive the "
                  f"block length gate easily</p>" for i in range(2000))
        + "</body></html>"
    )
    payloads = [
        None,
        b"",
        b"\x00\x01\x02\xff\xfe",
        b"plain text with invalid \xff\xfe bytes inside",
        b"\xff\xfe" + "<html><body><p>utf-16 dokument zażółć with plenty of text here</p></body></html>".encode("utf-16-le"),
        "<html><head><meta charset=\"iso-8859-2\"></head><body><p>Zażółć gęślą jaźń long enough paragraph content</p></body></html>".encode("iso-8859-2"),
        b"%PDF-",
        b"%PDF-1.4\nstream\n(tekst) Tj\nendstream\n",
        big_html.encode(),
    ]
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(payloads))],
            "warc_ts": pd.to_datetime(["2025-03-01"] * len(payloads)),
            "html": payloads,
            "text": [""] * len(payloads),
            "lang": ["pl"] * len(payloads),
        }
    )
    df = spark.createDataFrame(pdf)
    a = {
        r["url"]: r.asDict(recursive=True)
        for r in extract_documents(df).collect()
    }
    assert len(a) == len(payloads)
    for i, payload in enumerate(payloads):
        url = f"u{i}"
        got = a[url]
        text, status, fmt = extract_document_text(payload, "auto")
        info = extract_info_from_text(text, url, "KP", "")
        assert got["extracted_text"] == text, url
        assert got["status"] == status, url
        assert got["format"] == fmt, url
        for field in ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
                      "sygnatura_sprawy", "typ_dokumentu"):
            assert got[field] == info[field], (url, field)
        assert got["doc_status"] == info["status"], url
        assert got["colors"] == info["colors"], url
        assert got["spans"] == info_spans(text, info), url
        assert got["n_chars"] == len(text), url
        assert got["n_bytes"] == len(payload or b""), url
    # sanity on the content itself
    assert a["u4"]["format"] == "html" and "utf-16 dokument" in a["u4"]["extracted_text"]
    assert "Zażółć gęślą jaźń" in a["u5"]["extracted_text"]
    assert a["u8"]["n_chars"] > 100_000
