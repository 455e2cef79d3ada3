"""PDF writer/parser roundtrip + HTML boilerplate-strip oracle tests."""

from archvisier_spark.kernel import (
    build_pdf,
    extract_document_text,
    extract_main_text,
    pdf_page_texts,
    sniff_format,
)
from archvisier_spark.kernel.document import EMPTY_PDF_TEXT, STATUS_OK


# --- sniffer ---

def test_sniff_formats():
    assert sniff_format(b"%PDF-1.7\nx") == "pdf"
    assert sniff_format(b"  \n%PDF-1.4") == "pdf"
    assert sniff_format(b"<!DOCTYPE html><html></html>") == "html"
    assert sniff_format(b"<div>hi</div>") == "html"
    assert sniff_format("plain text here".encode()) == "text"
    assert sniff_format(b"") == "empty"
    assert sniff_format(None) == "empty"


# --- PDF roundtrip ---

def test_pdf_roundtrip_single_page():
    pdf = build_pdf([["Umowa nr 7/2025", "z dnia 2024-03-05"]])
    assert pdf.startswith(b"%PDF-1.7")
    assert pdf_page_texts(pdf) == ["Umowa nr 7/2025\nz dnia 2024-03-05"]


def test_pdf_roundtrip_multipage_order():
    pdf = build_pdf([["page one line"], ["page two line"], ["page three line"]])
    assert pdf_page_texts(pdf) == ["page one line", "page two line", "page three line"]
    # past page 9: numeric page order, not the lexical order of "10" < "2"
    lines = [f"strona numer {i} akapit dokumentu" for i in range(25)]
    assert pdf_page_texts(build_pdf([[line] for line in lines])) == lines


def test_pdf_roundtrip_escapes_and_unicode():
    lines = ["parens (x) \\ backslash", "żółć gęślą jaźń", "tab\tand (nested (deep))"]
    pdf = build_pdf([lines])
    assert pdf_page_texts(pdf) == ["\n".join(lines)]


def test_pdf_empty_is_error_row():
    text, status, fmt = extract_document_text(build_pdf([]))
    assert fmt == "pdf"
    assert text == EMPTY_PDF_TEXT
    assert status == ""


def test_pdf_malformed_is_error_row_not_exception():
    text, status, fmt = extract_document_text(b"%PDF-1.7\ngarbage stream\nbroken")
    # no stream objects → parses to zero pages → empty-PDF error literal
    assert text == EMPTY_PDF_TEXT


def test_pdf_document_text_applies_correction_and_page_newlines():
    # per-page: correct_text then "+\n" — processing/ocr.py:227-231 contract
    pdf = build_pdf([["tst words"], ["second page"]])
    text, status, fmt = extract_document_text(pdf, language="eng")
    assert text == "test words\nsecond page\n"
    assert status == STATUS_OK


def test_pdf_language_auto_detects_per_page():
    # Polish diacritics → "pol" dictionary; "tst" still repaired (both dicts
    # contain "test"), Polish page goes through the Polish dictionary.
    pdf = build_pdf([["zażółć tst"]])
    text, _, _ = extract_document_text(pdf, language="auto")
    assert text == "zażółć test\n"


# --- HTML boilerplate strip ---

BOILERPLATE_PAGE = """<!DOCTYPE html>
<html><head><title>t</title><script>var x = "<p>not text</p>";</script>
<style>.a { color: red }</style></head>
<body>
<nav><ul>
<li><a href="/">Home page link</a></li>
<li><a href="/about">About us page link</a></li>
</ul></nav>
<div id="main">
<p>This is the first real paragraph of the article body text.</p>
<p>And a second paragraph, also long enough to count as content.</p>
</div>
<footer><p><a href="/tos">Terms of service</a> — <a href="/priv">Privacy policy text</a></p></footer>
</body></html>"""


def test_extract_main_text_strips_boilerplate():
    out = extract_main_text(BOILERPLATE_PAGE)
    assert out == (
        "This is the first real paragraph of the article body text.\n"
        "And a second paragraph, also long enough to count as content."
    )


def test_extract_main_text_ignores_script_style():
    assert "not text" not in extract_main_text(BOILERPLATE_PAGE)
    assert "color: red" not in extract_main_text(BOILERPLATE_PAGE)


def test_extract_main_text_link_density_keeps_inline_links():
    # a long paragraph with one short inline link stays content
    html = "<p>A genuinely long sentence that mentions <a href='x'>one link</a> within much longer prose text.</p>"
    assert "one link" in extract_main_text(html)


def test_extract_main_text_entities_unescaped():
    html = "<p>Tom &amp; Jerry sign the agreement &quot;Umowa&quot; today.</p>"
    assert extract_main_text(html) == 'Tom & Jerry sign the agreement "Umowa" today.'


def test_document_dispatch_html():
    text, status, fmt = extract_document_text(BOILERPLATE_PAGE.encode())
    assert fmt == "html"
    assert status == STATUS_OK
    assert text.startswith("This is the first real paragraph")


def test_document_dispatch_plain_text():
    text, status, fmt = extract_document_text("zwykły tekst".encode())
    assert (text, status, fmt) == ("zwykły tekst", STATUS_OK, "text")


def test_fast_tokenizer_differential_vs_stdlib():
    """The fast regex tokenizer must block-tokenize EXACTLY like the
    stdlib HTMLParser path (its correctness oracle) across a grammar that
    includes quoted-'>'-in-attribute tags, comments containing markup,
    script/style CDATA with fake tags inside, bare '<' in text, entities,
    doctypes, unclosed elements, and XHTML self-closing tags (plain
    '<tag/>', attribute'd '<tag a="x"/>', bare-attr '<tag disabled/>',
    and the unquoted-value trap '<tag a=x/>' where stdlib absorbs the
    slash into the value)."""
    import random

    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    rng = random.Random(123)
    tags = ["p", "div", "span", "a", "li", "ul", "script", "style", "head",
            "b", "h1", "table", "td", "br", "svg"]
    words = ["alpha", "beta", "zażółć", "&amp;", "&lt;x&gt;", "&#65;",
             "1 < 2", "a > b", "&notaref", "tail"]

    def rand_html(depth=0):
        parts = []
        for _ in range(rng.randint(1, 6)):
            r = rng.random()
            if r < 0.35 or depth > 3:
                parts.append(rng.choice(words) + " ")
            elif r < 0.45:
                parts.append(f"<!-- comment {rng.randint(0, 9)} <p> -->")
            elif r < 0.5:
                parts.append("<!DOCTYPE html>")
            else:
                t = rng.choice(tags)
                attrs = ""
                ar = rng.random()
                if ar < 0.3:
                    attrs = f' href="x{rng.randint(0, 9)}>y" class=\'c\''
                elif ar < 0.5:
                    attrs = f" id=v{rng.randint(0, 9)}"
                sc = rng.random()
                if sc < 0.15:
                    # XHTML self-closing: depths must stay net-unchanged
                    end = rng.choice(["/>", " />"])
                    parts.append(f"<{t}{attrs}{end}")
                    continue
                if sc < 0.2:
                    # trailing slash glued to an unquoted value — stdlib
                    # absorbs it into the value (a START tag, not startend)
                    parts.append(f"<{t} id=v{rng.randint(0, 9)}/>")
                    parts.append(f"</{t}>")
                    continue
                if sc < 0.24:
                    parts.append(f"<{t} disabled/>")  # bare-attr self-close
                    continue
                if sc < 0.28:
                    # whitespace around '=' before '/>': stdlib absorbs
                    # the slash into the value across the whitespace
                    # (START tag) — the fast path must bail, not guess
                    eq = rng.choice(["= ", " = ", " =", "=  "])
                    parts.append(f"<{t} src {eq}x{rng.randint(0, 9)}/>")
                    parts.append(f"</{t}>")
                    continue
                inner = "" if t == "br" else rand_html(depth + 1)
                if t in ("script", "style"):
                    inner = "if (a<b) { x = '</div>'; } <p>not a tag"
                closing = f"</{t}>" if t != "br" and rng.random() > 0.1 else ""
                parts.append(f"<{t}{attrs}>{inner}{closing}")
        return "".join(parts)

    fallbacks = 0
    for _ in range(2000):
        doc = rand_html()
        fast = html_blocks_fast(doc)
        if fast is None:  # explicit fallback is allowed, silent drift is not
            fallbacks += 1
            continue
        assert fast == html_blocks_stdlib(doc), repr(doc[:200])
    # the fallback must stay an escape hatch, not the common path
    assert fallbacks < 200, f"fast path bailed on {fallbacks}/2000 docs"


def test_fast_tokenizer_self_closing_tags():
    """Regression: '<svg/>' / '<iframe/>' / '<script/>' must NOT swallow
    the rest of the document, and '<a/>' must not leak link depth
    (round-2 verdict bug: IGNORED self-closers incremented ignore_depth
    with no matching close)."""
    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    cases = [
        "<svg/>text after self-closing svg element here",
        "<script/>not actually script content</p>more",
        "<iframe/>after iframe",
        "<a/>link leak check with long text here ok",
        "<p/>para text<p>second block here</p>",
        '<div attr="x"/>after attr self close',
        '<img src="a.png"/><p>real para content here</p>',
        "<style/>not style content really",
        "<template/>tpl after",
        "<head/>head after",
        "<br />space before slash",
        "<input disabled/>after bare attr",
        '<a href="x"disabled/>after quote-adjacent bare attr',
        # unquoted-value trap: stdlib parses these as START tags
        "<a href=x/>text inside an anchor that never closes here",
        "<div class=c/>text",
        # round-3 ADVICE repro: whitespace around '=' before '/>' —
        # stdlib absorbs the slash into the value, so the script body is
        # CDATA and must NOT leak into extracted blocks
        '<script src = x/>alert("hi")</script><p>real content</p>',
        "<a href = y/>anchor text absorbed slash</a>after",
        "<div id =z/>div text",
        "<p class=  w/>para text</p>",
        # quoted value after spaced '=' — slash stands alone (startend)
        '<div id = "q"/>after quoted spaced eq',
    ]
    for c in cases:
        std = html_blocks_stdlib(c)
        fast = html_blocks_fast(c)
        effective = std if fast is None else fast
        assert effective == std, c
    # the headline repro must take the fast path, not the fallback
    assert html_blocks_fast(cases[0]) == [
        ("text after self-closing svg element here", 0)
    ]


def test_fast_tokenizer_closing_slash_both_modes():
    """'</tag/>' is mode-dependent in stdlib: a tolerant END tag outside
    CDATA, but raw DATA inside it (parse_endtag's strict endtagfind fails
    on the '/', so the CDATA branch consumes it as data and the mode
    continues).  The fast path replicates both sides — no bail."""
    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    for c in [
        # inside CDATA: '</script/>' is data, mode runs on — 'after
        # script' is swallowed too (no strict close ever appears)
        "<script>var x=1;</script/>after script",
        "<script>var x=1;</script/>between</script>after for real",
        # outside CDATA: tolerant end tags
        "<a>link text</a/>after slash-close anchor more text",
        "<svg>inside</svg/>after",
        "</p/>plain text after slash-closed paragraph end",
    ]:
        fast = html_blocks_fast(c)
        assert fast is not None, c
        assert fast == html_blocks_stdlib(c), c


def test_fast_tokenizer_junk_end_tags_and_cdata_strict_close():
    """Two classes stdlib treats asymmetrically vs start tags (regression
    for a silent-drift bug found by fuzzing):

    - a tolerant END tag ends at the FIRST '>' after the name — a quoted
      value does NOT span '>' ('</b x="1>2">' ends inside the quotes);
    - CDATA mode exits only at a STRICT close ('</script\\s*>' with
      nothing else); '</script x>' / '</scriptx>' are DATA and the mode
      continues."""
    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    cases = [
        '</b x="1>2">first-gt ends the end tag so this is visible text',
        '<style/>></bb/<a href="x>y">',
        '</div junk="a>b">rest of the line is ordinary content here',
        '<script>x</script foo>still script</script>done after strict close',
        "<script>a</scriptx>b</script>c real content follows here",
        "<script></script\t>tab inside strict close is fine</p>",
        "<script>never closed at all — swallowed to EOF",
        # a '</script' prefix with no '>' of its own must not make the
        # scan jump OVER the strict close that immediately follows — the
        # strict `interesting` regex never stops at the junk prefix
        "<script>x</script </script>done with enough text",
        "<script>x</script!</script>done case two",
        '<script>x</script\n"</script>done case three',
    ]
    for c in cases:
        fast = html_blocks_fast(c)
        assert fast is not None, c
        assert fast == html_blocks_stdlib(c), c


def test_fast_tokenizer_marked_sections_totalized():
    """'<![…' marked sections, mirrored from _markupbase: terminated
    SGML/MS-conditional sections are consumed; an unterminated one is
    DATA at EOF via goahead's find('>') fallback; an unknown or missing
    keyword — where raw stdlib RAISES AssertionError — is totalized to
    bogus-comment handling in BOTH the oracle subclass and the fast path
    (regression: the old bogus-comment regex branch silently swallowed
    unterminated CDATA that stdlib emits as data)."""
    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    cases = [
        "<![CDATA[ok]]>tail long enough to keep around for the check",
        "<![cdata[a>b]]>lowercase keyword, '>' inside the section",
        "<![CDATA[x] ]>whitespace-tolerant close per _markedsectionclose",
        "<![if !IE]>conditional<![endif]> both consumed as sections",
        "<![if a>b]>MS close is ']>' so the '>' inside stays sectioned",
        "text before <![CDATA[unterminated section becomes data at EOF",
        "<p>hello paragraph content</p><![CDATA[<x:y><a b=>",
        "<![CDATA[a &amp; b",   # fallback data unescapes (convert_charrefs)
        "<![TEMP[z]]>temp keyword is an SGML section name too",
        "<![",
        "<![CDATA",
    ]
    for c in cases:
        fast = html_blocks_fast(c)
        assert fast is not None, c
        assert fast == html_blocks_stdlib(c), c
    # the totalized wart: raw stdlib raises AssertionError on these —
    # the oracle subclass must parse them as bogus comments instead
    for c in ["<![foo bar]>x visible", "<![>x visible", "<![iffy]>q visible"]:
        std = html_blocks_stdlib(c)   # must not raise
        fast = html_blocks_fast(c)
        assert fast is not None and fast == std, c


def test_fast_tokenizer_quote_pairing_and_nul_stall():
    """Three divergence classes found by differential fuzzing (each was a
    real silent-wrong-output bug before the extent-verification /
    NUL-stall guards landed):

    1. an '=' INSIDE an unquoted attribute value makes our lookbehind
       claim a quoted value stdlib doesn't have — our token then either
       spans a '>' stdlib ends at, or (2.) ends at a '>' stdlib's real
       quoted value spans;
    3. NUL directly after a start-tag name stalls stdlib's locator
       (parse_starttag re-emits '<name' alone as DATA and resumes at the
       NUL) — every other name-breaking char is boundary-consumable.

    The fast path may answer (matching stdlib) or bail — never diverge.
    Also pins the benign shapes the guards must NOT bail on: quoted
    values legitimately spanning '>' (onclick handlers), and unquoted
    attribute values (no quotes in the token at all)."""
    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    diverging = [
        # class 1: our quoted claim spans '>'; stdlib's href value is
        # the unquoted run '!x="<p><br/' and the tag ends at its '>'
        '=]a]<a href=!x="<p><br/><b x="1>2"></script>',
        # class 2: no interior '>' in our token, but stdlib's x="1>2"
        # spans OUR closing '>'
        'a&amp;<a href=!x="<b x="1>2"><![ifx/>',
        "żendif</script>]><a href=!x=\"==text[\nonclick=\"a>b\"=]>ż= ",
        # class 3: NUL stall after the name, three surrounding shapes
        "p<br/>a\x00<p><style\x00<!doctype html>text]]>ż<script>",
        "]]><text\x00/</script>?'p<!doctype html>CDATA",
        "<if\x00[</script>",
    ]
    for c in diverging:
        std = html_blocks_stdlib(c)
        fast = html_blocks_fast(c)
        assert fast is None or fast == std, (c, fast, std)
    benign = [
        '<p onclick="if(a>b){x=1}">quoted value spanning gt is fine</p>',
        "<p><img src=pic.png alt=x>unquoted values, no quotes at all</p>",
        "<a href='/x?a=1&amp;b=2'>single-quoted</a> trailing words here",
        "</p\x00junk>NUL in an END tag is fine (gt-scan, no stall)",
    ]
    for c in benign:
        fast = html_blocks_fast(c)
        assert fast is not None, c
        assert fast == html_blocks_stdlib(c), c


def test_fast_tokenizer_differential_fuzz():
    """Seeded junk-soup differential fuzz of the fast tokenizer against
    the (totalized) stdlib oracle — the harness that found every
    divergence class above.  Bounded to stay fast in CI; the atom set
    deliberately over-weights the historical failure shapes."""
    import random

    from archvisier_spark.kernel.html_extract import (
        html_blocks_fast,
        html_blocks_stdlib,
    )

    atoms = [
        "<", ">", "/", "!", "?", "[", "]", "=", '"', "'", "a", "p",
        "div", "script", "style", "CDATA", "if", "endif", "--", " ",
        "\n", "\t", "text", "&amp;", "<p>", "</p>", "<a href=",
        "<script>", "</script>", "<![", "]]>", "]>", "<!--", "-->",
        "x/>", "<br/>", '<b x="1>2">', "żółć", "<!doctype html>",
        'onclick="a>b"', "= ", "==", '<a href=!x="', "\x00", "'",
        "q='p>q'",
    ]
    rng = random.Random(20260817)
    for _ in range(4000):
        s = "".join(
            rng.choice(atoms) for _ in range(rng.randint(1, 16))
        )
        std = html_blocks_stdlib(s)
        fast = html_blocks_fast(s)
        assert fast is None or fast == std, (s, fast, std)


def test_stream_memo_bounded_by_retained_bytes(monkeypatch):
    """The parse memo must bound total RETAINED bytes, not entry count:
    16 KB keys under an entry-count cap could retain ~256 MB per worker
    (round-3 ADVICE).  With a tiny budget, distinct streams must trigger
    eviction and the accumulator must track what the dict holds."""
    from archvisier_spark.kernel import pdf as pdfmod
    from archvisier_spark.kernel.pdf import build_pdf, pdf_page_texts

    monkeypatch.setattr(pdfmod, "_STREAM_MEMO_BUDGET", 4096)
    pdfmod._STREAM_MEMO.clear()
    pdfmod._stream_memo_bytes = 0
    for i in range(50):
        # distinct single-page payloads → distinct streams → memo inserts
        pages = pdf_page_texts(build_pdf([[f"linia numer {i} " + "x" * 100]]))
        assert pages and f"linia numer {i}" in pages[0]
        retained = sum(
            len(k) + 2 * len(v or "") for k, v in pdfmod._STREAM_MEMO.items()
        )
        assert retained <= 4096 + (1 << 14), "memo exceeded byte budget"
    assert pdfmod._stream_memo_bytes == sum(
        len(k) + 2 * len(v or "") for k, v in pdfmod._STREAM_MEMO.items()
    )


def test_page_repair_memo_identity_and_bound(monkeypatch):
    """The per-page repair memo must (a) never change output vs the
    unmemoized composition (the reference's two-pass decision over the
    text layer, then repair) — including across language modes and
    repeated pages — and (b) bound total retained chars the same way the
    stream memo bounds bytes."""
    from archvisier_spark.kernel import document as docmod
    from archvisier_spark.kernel.document import extract_pdf_text, ocr_page_auto
    from archvisier_spark.kernel.pdf import build_pdf, pdf_page_texts
    from archvisier_spark.kernel.textfix import correct_text

    def unmemoized(payload, language):
        pages = pdf_page_texts(payload)
        out = ""
        for page_text in pages:
            text_page, lang = ocr_page_auto(
                page_text, language, lambda page, _lang, _config: page
            )
            out += correct_text(text_page, lang) + "\n"
        return out

    cases = [
        ([["Umowa nr 7/2025", "z dnia 2024-03-05"]], "auto"),
        ([["invoice no. 12"], ["faktura 9/2020"]] * 3, "auto"),  # repeats
        ([["tekst polski ąćę"], ["english text here"]], "pol"),
        ([["mixed"], ["mixed"], ["mixed"]], "eng"),  # identical pages
    ]
    docmod._REPAIR_MEMO.clear()
    docmod._repair_memo_chars = 0
    for pages, language in cases:
        payload = build_pdf(pages)
        text, status = extract_pdf_text(payload, language=language)
        assert text == unmemoized(payload, language), (pages, language)
        # second call hits the memo — still identical
        text2, _ = extract_pdf_text(payload, language=language)
        assert text2 == text

    # retained-chars budget: distinct pages trigger eviction
    monkeypatch.setattr(docmod, "_REPAIR_MEMO_BUDGET", 2048)
    docmod._REPAIR_MEMO.clear()
    docmod._repair_memo_chars = 0
    for i in range(40):
        extract_pdf_text(build_pdf([[f"strona {i} " + "y" * 80]]))
        retained = sum(
            len(k[1]) + len(v) for k, v in docmod._REPAIR_MEMO.items()
        )
        assert retained <= 2048 + docmod._REPAIR_MEMO_MAX_CHARS
    assert docmod._repair_memo_chars == sum(
        len(k[1]) + len(v) for k, v in docmod._REPAIR_MEMO.items()
    )
