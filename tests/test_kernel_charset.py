"""Charset sniffing (simplified WHATWG prescan) for web payloads: BOM →
meta charset → utf-8, with UTF-16 sniffable as HTML through its BOM."""

from archvisier_spark.kernel.charset import decode_payload, detect_bom, sniff_charset
from archvisier_spark.kernel.document import STATUS_OK, extract_document_text
from archvisier_spark.kernel.sniffer import FORMAT_HTML, FORMAT_TEXT, sniff_format

POLISH = "Zażółć gęślą jaźń ąćęłńóśżź"  # iso-8859-2/cp1250-encodable
HTML_TMPL = "<html><head>{meta}</head><body><p>{body} and padding text to pass the block length gate.</p></body></html>"


def test_bom_detection():
    assert detect_bom("x".encode("utf-8-sig"))[0] == "utf-8"
    assert detect_bom("x".encode("utf-16-le").join([b"\xff\xfe", b""]))[0] in (
        "utf-16-le",
        "utf-32-le",
    )
    assert detect_bom(b"\xfe\xff\x00x")[0] == "utf-16-be"
    assert detect_bom(b"\xff\xfe\x00\x00abcd")[0] == "utf-32-le"
    assert detect_bom(b"plain")[0] is None


def test_meta_charset_prescan():
    html = HTML_TMPL.format(meta='<meta charset="iso-8859-2">', body=POLISH)
    payload = html.encode("iso-8859-2")
    assert sniff_charset(payload) == "iso-8859-2"
    assert POLISH in decode_payload(payload)


def test_meta_http_equiv_form():
    html = HTML_TMPL.format(
        meta='<meta http-equiv="Content-Type" content="text/html; charset=windows-1250">',
        body=POLISH,
    )
    payload = html.encode("windows-1250")
    assert sniff_charset(payload) == "windows-1250"
    text, status, fmt = extract_document_text(payload)
    assert (status, fmt) == (STATUS_OK, FORMAT_HTML)
    assert POLISH in text


def test_utf16_bom_html_end_to_end():
    html = HTML_TMPL.format(meta="", body=POLISH)
    payload = "﻿".encode("utf-16-le")[:0] + b"\xff\xfe" + html.encode("utf-16-le")
    assert sniff_format(payload) == FORMAT_HTML
    text, status, fmt = extract_document_text(payload)
    assert (status, fmt) == (STATUS_OK, FORMAT_HTML)
    assert POLISH in text


def test_utf8_payload_byte_identical_to_old_path():
    """The sniff must be a no-op for plain utf-8 (the corpus contract)."""
    html = HTML_TMPL.format(meta="", body=POLISH)
    payload = html.encode("utf-8")
    assert sniff_charset(payload) == "utf-8"
    assert decode_payload(payload) == payload.decode("utf-8", errors="ignore")


def test_utf8_bom_text_strips_bom():
    text, status, fmt = extract_document_text("zwykły tekst".encode("utf-8-sig"))
    assert (text, status, fmt) == ("zwykły tekst", STATUS_OK, FORMAT_TEXT)


def test_utf16_label_without_bom_is_utf8():
    # WHATWG: an ASCII-readable 'charset=utf-16' label proves the bytes
    # are NOT utf-16 → decode as utf-8
    payload = HTML_TMPL.format(meta='<meta charset="utf-16">', body="abc").encode()
    assert sniff_charset(payload) == "utf-8"


def test_bomless_utf16_transport_header_decodes():
    # a genuine BOM-less UTF-16LE page with an honest transport header
    # must decode as UTF-16, not be remapped to UTF-8 and mangled
    html = HTML_TMPL.format(meta="", body=POLISH)
    payload = html.encode("utf-16-le")
    assert not payload.startswith(b"\xff\xfe")
    assert sniff_charset(payload, "text/html; charset=utf-16") == "utf-16-le"
    assert POLISH in decode_payload(payload, "text/html; charset=utf-16")


def test_unknown_and_x_user_defined_labels():
    assert sniff_charset(b'<meta charset="no-such-encoding">x') == "utf-8"
    assert sniff_charset(b'<meta charset="x-user-defined">x') == "windows-1252"


def test_invalid_bytes_are_ignored_not_fatal():
    payload = b"<p>ok block long enough to be kept as content\xff\xfe\x00</p>"
    text, status, fmt = extract_document_text(payload)
    assert status == STATUS_OK and fmt == FORMAT_HTML
    assert "ok block" in text


def test_charset_roundtrip_property():
    """Property: text from a Polish+ascii alphabet, wrapped in HTML with a
    matching meta declaration and encoded in any supported legacy/unicode
    codec, is recovered exactly by the full extraction path."""
    import random

    rng = random.Random(31337)
    alphabet = "abcdefgh ąćęłńóśżź ABCDE 0123456789"
    encodings = [
        ("utf-8", '<meta charset="utf-8">', False),
        ("iso-8859-2", '<meta charset="iso-8859-2">', False),
        ("windows-1250", '<meta http-equiv="Content-Type" content="text/html; charset=windows-1250">', False),
        ("utf-16-le", "", True),   # BOM carries the declaration
        ("utf-16-be", "", True),
    ]
    import codecs

    boms = {"utf-16-le": codecs.BOM_UTF16_LE, "utf-16-be": codecs.BOM_UTF16_BE}
    for _ in range(60):
        body = "".join(rng.choice(alphabet) for _ in range(rng.randint(40, 160))).strip()
        if not body or len(body) < 30:
            continue
        enc, meta, bom = encodings[rng.randrange(len(encodings))]
        html = f"<html><head>{meta}</head><body><p>{body}</p></body></html>"
        payload = (boms[enc] if bom else b"") + html.encode(enc)
        text, status, fmt = extract_document_text(payload)
        assert (status, fmt) == (STATUS_OK, FORMAT_HTML), (enc, body)
        assert text == body, (enc, body)


# --- transport-layer (HTTP/WARC Content-Type) precedence, round-3 #7 ---

def test_header_beats_meta():
    """WHATWG precedence: transport layer outranks the meta prescan.  A
    windows-1250 header with a (stale) iso-8859-1 meta must decode as
    windows-1250."""
    html = HTML_TMPL.format(meta='<meta charset="iso-8859-1">', body=POLISH)
    payload = html.encode("windows-1250")
    assert sniff_charset(payload, "text/html; charset=windows-1250") == "windows-1250"
    assert POLISH in decode_payload(payload, "text/html; charset=windows-1250")
    # without the header, the (wrong) meta wins and mangles the Polish
    assert sniff_charset(payload) == "iso-8859-1"


def test_bom_beats_header():
    html = HTML_TMPL.format(meta="", body=POLISH)
    payload = b"\xff\xfe" + html.encode("utf-16-le")
    assert sniff_charset(payload, "text/html; charset=iso-8859-2") == "utf-16-le"
    assert POLISH in decode_payload(payload, "text/html; charset=iso-8859-2")


def test_header_forms_and_fallbacks():
    from archvisier_spark.kernel.charset import charset_from_declaration

    assert charset_from_declaration("text/html; charset=ISO-8859-2") == "iso-8859-2"
    assert charset_from_declaration('text/html; charset="utf-8"') == "utf-8"
    assert charset_from_declaration("windows-1250") == "windows-1250"
    # transport-layer UTF-16 is honored as-is (WHATWG §13.2.3.2 trusts a
    # supported transport encoding; the utf-16→utf-8 remap is meta-only);
    # bare 'utf-16' → LE per the Encoding Standard's label table
    assert charset_from_declaration("text/html; charset=utf-16") == "utf-16-le"
    assert charset_from_declaration("text/html; charset=UTF-16BE") == "utf-16-be"
    assert charset_from_declaration("charset=utf-16le") == "utf-16-le"
    assert charset_from_declaration("application/json") is None  # no charset param
    assert charset_from_declaration("text/html; charset=no-such-enc") is None
    assert charset_from_declaration(None) is None
    assert charset_from_declaration("") is None


def test_unusable_header_falls_through_to_meta():
    html = HTML_TMPL.format(meta='<meta charset="iso-8859-2">', body=POLISH)
    payload = html.encode("iso-8859-2")
    assert sniff_charset(payload, "text/html; charset=bogus-enc") == "iso-8859-2"


def test_content_type_column_propagates_through_pipeline(spark):
    """An input table carrying content_type must have the header respected
    by the distributed extraction (and the column must not leak into the
    output schema)."""
    from pyspark.sql import types as T

    from archvisier_spark.pipeline.extract import extract_documents

    html = HTML_TMPL.format(meta="", body=POLISH).encode("windows-1250")
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content_type", T.StringType()),
    ])
    import datetime
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("u1", ts, html, "pl", "text/html; charset=windows-1250"),
        ("u2", ts, html, "pl", None),  # no header → meta/utf-8 path
    ]
    out = {
        r["url"]: r["extracted_text"]
        for r in extract_documents(spark.createDataFrame(rows, schema)).collect()
    }
    assert POLISH in out["u1"]
    assert POLISH not in out["u2"]  # mangled w/o header
    assert "content_type" not in extract_documents(
        spark.createDataFrame(rows, schema)
    ).columns
