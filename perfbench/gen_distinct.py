"""Distinct-vocabulary corpus for the ``extract_distinct`` workload.

Same table shape as ``archvisier_spark.corpus`` (``url, warc_ts, html,
text, lang``), the same 50/50 HTML/PDF mix and the same skew shape (every
100th PDF has 500 times the pages of a normal one), but every line carries
words that no other document uses, and the skewed PDFs have distinct pages.
So the kernel's stream, page, repair and token memos never hit, and a
skewed PDF costs its full page count.

Rows are a pure function of ``(seed, doc id)``.  ``text`` is the expected
extraction: for PDFs each page repaired with ``correct_text`` plus one
``"\\n"``, for HTML the paragraphs joined with ``"\\n"``.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

LANGS = ("pl", "en", "de", "fr", "es")
SKEW_EVERY = 100
SKEW_FACTOR = 500
# a skewed PDF always has SKEW_BASE_PAGES * SKEW_FACTOR pages, so the total
# work of a corpus does not depend on the seed
SKEW_BASE_PAGES = 2

# shared words per language; Polish ones carry diacritics so the page
# language heuristic resolves to Polish
_POOL = {
    "pl": ("umowa", "zawarta", "pomiędzy", "stronami", "dnia", "roku", "faktura",
           "wystawiona", "zgodnie", "przepisami", "protokół", "odbioru", "robót",
           "zaświadczenie", "wniosek", "postępowania", "siedziby", "gęślą"),
    "en": ("invoice", "agreement", "entered", "parties", "report", "facility",
           "contract", "delivery", "payment", "due", "within", "days", "minutes",
           "meeting", "certificate", "completion", "contractor", "case"),
    "de": ("rechnung", "wurde", "erstellt", "vertrag", "tritt", "kraft",
           "protokoll", "versammlung", "gesellschaft", "lieferung", "erfolgt",
           "innerhalb", "tagen"),
    "fr": ("facture", "jointe", "courrier", "contrat", "conclu", "pour", "duree",
           "objet", "rapport", "annuel", "comite", "direction", "paiement"),
    "es": ("factura", "adjunta", "presente", "carta", "contrato", "entra",
           "vigor", "asunto", "informe", "trimestral", "departamento", "pago"),
}
_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_ALPHA_PL = _ALPHA + "ąćęłńóśżź"
_NAV = ("Home page", "About the company", "Contact and support", "Privacy policy",
        "Terms of service", "Site map overview", "Latest news archive")
_BASE_TS = datetime(2025, 1, 1)


def _doc_tag(i: int) -> str:
    """Letters that identify document ``i``; every unique word ends with
    them, so no two documents share one."""
    out = ""
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out += _ALPHA[r]
    return out


def _line(rng: random.Random, lang: str, tag: str) -> str:
    alpha = _ALPHA_PL if lang == "pl" else _ALPHA
    pool = _POOL[lang]
    words = [rng.choice(pool) for _ in range(rng.randint(2, 4))]
    for _ in range(rng.randint(2, 4)):
        words.insert(rng.randrange(len(words) + 1),
                     "".join(rng.choice(alpha) for _ in range(rng.randint(2, 5))) + tag)
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _html(paragraphs: list[str], rng: random.Random) -> bytes:
    nav = "".join(f'<li><a href="/p{k}">{rng.choice(_NAV)}</a></li>'
                  for k in range(rng.randint(3, 6)))
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    return (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<script>var trap='<p>decoy paragraph that must never appear</p>';</script>"
        "<style>.m{color:#222}</style></head>"
        f"<body><nav><ul>{nav}</ul></nav><div id=\"main\"><article>{body}</article></div>"
        '<footer><p><a href="/tos">Terms of service</a></p></footer></body></html>'
    ).encode("utf-8")


def expected_pdf_text(pages: list[list[str]]) -> str:
    from archvisier_spark.kernel import correct_text, detect_lang

    out = []
    for lines in pages:
        page = "\n".join(lines)
        out.append(correct_text(page, "pol" if detect_lang(page) == "pl" else "eng"))
        out.append("\n")
    return "".join(out)


def is_skewed(i: int) -> bool:
    return i % 2 == 1 and (i // 2) % SKEW_EVERY == SKEW_EVERY - 1


def row(i: int, seed: int) -> dict:
    from archvisier_spark.kernel import build_pdf

    rng = random.Random(f"distinct:{seed}:{i}")
    lang = LANGS[i % len(LANGS)]
    tag = _doc_tag(i)
    url = f"https://site{i % 50}.example/{lang}/doc{i:08d}"
    if i % 2 == 1:
        n_pages = SKEW_BASE_PAGES * SKEW_FACTOR if is_skewed(i) else rng.randint(1, 3)
        pages = [[_line(rng, lang, tag) for _ in range(rng.randint(2, 5))]
                 for _ in range(n_pages)]
        payload, text = build_pdf(pages), expected_pdf_text(pages)
    else:
        paragraphs = [_line(rng, lang, tag) + " " + _line(rng, lang, tag)
                      for _ in range(rng.randint(1, 4))]
        payload, text = _html(paragraphs, rng), "\n".join(paragraphs)
    return {"url": url, "warc_ts": _BASE_TS + timedelta(minutes=i), "html": payload,
            "text": text, "lang": lang}
