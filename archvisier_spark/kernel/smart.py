"""Rule-cascade metadata extraction (the "SmartExtractor" tier).

From-scratch reimplementation of the reference's keyword/regex cascade
(`2_Aplikacja_Glowna/SmartExtractor/smart_extractor.py:26-295`, SURVEY.md
§2.3 X1–X7).  Pattern ORDER is part of the semantics: every extractor is a
first-match-wins scan over an ordered pattern list, and the keyword table is
scanned in insertion order.  All regexes run under Python ``re`` — Java
regex has different word-boundary/Unicode semantics, so these functions are
executed inside Arrow-batched pandas UDFs, never translated to
``regexp_extract`` (SURVEY.md §7 "regex engine parity").
"""

from __future__ import annotations

import re

# The substring pre-gates skip scans that cannot match; they never change
# a result.  Turning this flag off (read at call time here and in
# cascade.py) runs every scan ungated — the reference the tests compare
# the gated extractors against.
GATES_ENABLED = True

# Keyword -> canonical document type, scanned in insertion order.
# Mirrors smart_extractor.py:26-67 (34 multilingual keywords).
DOCUMENT_TYPES: dict[str, str] = {
    "umowa": "UMOWA",
    "porozumienie": "POROZUMIENIE",
    "aneks": "ANEKS",
    "appendix": "ANEKS",
    "agreement": "UMOWA",
    "contract": "UMOWA",
    "protokół": "PROTOKÓŁ",
    "protokol": "PROTOKÓŁ",
    "protocol": "PROTOKÓŁ",
    "faktura": "FAKTURA",
    "invoice": "FAKTURA",
    "rechnung": "FAKTURA",
    "rachunek": "RACHUNEK",
    "bill": "RACHUNEK",
    "paragon": "PARAGON",
    "wezwanie": "WEZWANIE",
    "zaświadczenie": "ZAŚWIADCZENIE",
    "zaswiadczenie": "ZAŚWIADCZENIE",
    "certificate": "ZAŚWIADCZENIE",
    "decyzja": "DECYZJA",
    "decision": "DECYZJA",
    "postanowienie": "POSTANOWIENIE",
    "resolution": "UCHWAŁA",
    "uchwała": "UCHWAŁA",
    "request": "WNIOSEK",
    "wniosek": "WNIOSEK",
    "appeal": "ODWOŁANIE",
    "odwołanie": "ODWOŁANIE",
    "odwolanie": "ODWOŁANIE",
    "complaint": "SKARGA",
    "skarga": "SKARGA",
    "letter": "PISMO",
    "pismo": "PISMO",
    "memo": "NOTATKA",
    "notatka": "NOTATKA",
    "report": "SPRAWOZDANIE",
    "sprawozdanie": "SPRAWOZDANIE",
    "statement": "OŚWIADCZENIE",
    "oświadczenie": "OŚWIADCZENIE",
    "oswiadczenie": "OŚWIADCZENIE",
}

# Word-boundary pattern per keyword, precompiled once per Python worker.
_TYPE_PATTERNS: list[tuple[str, re.Pattern[str], str]] = [
    (kw, re.compile(r"\b" + re.escape(kw) + r"\b"), doc_type)
    for kw, doc_type in DOCUMENT_TYPES.items()
]

# Cheap C-speed pre-gates: every pattern match IMPLIES its gate literal is
# present (case-insensitively), so gating skips regex scans without ever
# changing a result — the same trick find_document_type uses.  Profiling
# shows re.Pattern.search is ~36% of per-document kernel time, dominated
# by extractors whose keywords are absent from most documents.
_HAS_DIGIT = re.compile(r"\d")  # \d, not [0-9]: the gated patterns use
# Unicode-aware \d, so the gate must admit the same digit class (e.g.
# Arabic-Indic digits in OCR'd multilingual payloads) or gating would
# change results — the one thing a gate must never do.

# re.IGNORECASE folds three characters into our gate literals' letters
# beyond what str.lower() maps (sre_compile's extra-cases table): dotless
# i (U+0131) ↔ i, long s (U+017F) ↔ s, Kelvin sign (U+212A) ↔ k.  A text
# containing one of them can match an IGNORECASE pattern whose lowercase
# literal is NOT a substring of text.lower() ('Wrzeſnia' matches the
# (?i)wrze[sś]nia raw-date form while 'wrzeſnia' contains no 'wrzesnia'),
# which would let a literal gate skip a scan the ungated path performs —
# the one thing a gate must never do.  Fix by construction: the PROBE
# string the gates substring-test is the lowered text with those residual
# folds applied (the Kelvin sign already lower()s to 'k', and İ (U+0130)
# lowers to 'i'+COMBINING DOT, which contains 'i') — one C-level charset
# scan per document, a translate only when a wart is actually present.
# Gates probing text that the pattern itself searches in lowered form
# (the document-type table) keep the raw lower() — probe == search
# subject is sound by itself and the reference searches the true lower.
_POST_LOWER_WARTS = re.compile("[\u0131\u017f]")
_FOLD_MAP = {0x131: "i", 0x17f: "s"}


def _gate_probe(low: str) -> str:
    """Gate-probe string for ``low = text.lower()``: IGNORECASE's
    post-lower() residual folds applied, so 'pattern matches text' ⇒
    'literal in probe' holds for every literal gate."""
    return (low.translate(_FOLD_MAP)
            if _POST_LOWER_WARTS.search(low) else low)


def _any_in(low: str, gates) -> bool:
    """C-speed substring gate: True iff any literal occurs in ``low``.
    A plain loop, not ``any(genexpr)`` — the generator frame per call
    profiled as measurable overhead on the per-document hot path (r07)."""
    for g in gates:
        if g in low:
            return True
    return False


# Ordered date patterns — smart_extractor.py:84-90 — the word-month forms
# paired with their month-literal gates (an IGNORECASE match contains one
# of the month names, so its lowercase literal appears in the lowered
# text — the same gate design as _NUMBER_PATTERNS below).  The numeric
# forms carry no gate beyond _HAS_DIGIT.
_DATE_PATTERNS: tuple[tuple[tuple[str, ...] | None, re.Pattern[str]], ...] = (
    (None, re.compile(r"\b(\d{4})[/\.\-](\d{1,2})[/\.\-](\d{1,2})\b")),
    (None, re.compile(r"\b(\d{1,2})[/\.\-](\d{1,2})[/\.\-](\d{4})\b")),
    (("stycznia", "lutego", "marca", "kwietnia", "maja", "czerwca",
      "lipca", "sierpnia", "września", "października", "listopada",
      "grudnia"),
     re.compile(
        r"\b(\d{1,2})[ \.](?:stycznia|lutego|marca|kwietnia|maja|czerwca|lipca|sierpnia|września|października|listopada|grudnia)[ \.](\d{4})\b",
        re.IGNORECASE,
     )),
    (("styczeń", "luty", "marzec", "kwiecień", "maj", "czerwiec",
      "lipiec", "sierpień", "wrzesień", "październik", "listopad",
      "grudzień"),
     re.compile(
        r"\b(\d{1,2})[ \.](?:styczeń|luty|marzec|kwiecień|maj|czerwiec|lipiec|sierpień|wrzesień|październik|listopad|grudzień)[ \.](\d{4})\b",
        re.IGNORECASE,
     )),
    (("january", "february", "march", "april", "may", "june", "july",
      "august", "september", "october", "november", "december"),
     re.compile(
        r"\b(\d{1,2})[ \.](?:january|february|march|april|may|june|july|august|september|october|november|december)[ \.](\d{4})\b",
        re.IGNORECASE,
     )),
)

# Month-name -> number, probed in insertion order against the *original-case*
# matched fragment (smart_extractor.py:158-175 — a case-sensitive substring
# probe; "10 May 2023" therefore resolves to no month and yields "").
_MONTHS: dict[str, int] = {
    "stycznia": 1, "lutego": 2, "marca": 3, "kwietnia": 4, "maja": 5,
    "czerwca": 6, "lipca": 7, "sierpnia": 8, "września": 9,
    "października": 10, "listopada": 11, "grudnia": 12,
    "styczeń": 1, "luty": 2, "marzec": 3, "kwiecień": 4, "maj": 5,
    "czerwiec": 6, "lipiec": 7, "sierpień": 8, "wrzesień": 9,
    "październik": 10, "listopad": 11, "grudzień": 12,
    "january": 1, "february": 2, "march": 3, "april": 4, "may": 5,
    "june": 6, "july": 7, "august": 8, "september": 9,
    "october": 10, "november": 11, "december": 12,
}

# Ordered document-number patterns — smart_extractor.py:93-100 — paired
# with their keyword gates (any match contains one of the gate literals).
_NUMBER_PATTERNS: tuple[tuple[tuple[str, ...], re.Pattern[str]], ...] = (
    (("nr", "numer", "znak", "sygn", "l.dz"),
     re.compile(r"\b(?:nr|numer|znak|sygn\.?|l\.dz\.?)[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
    (("no.", "number"),
     re.compile(r"\b(?:no\.|number)[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
    (("fv",),
     re.compile(r"\bFV[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
    (("faktura",),
     re.compile(r"\bfaktura[ :]*(?:nr|numer|no\.|number)?[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
    (("invoice",),
     re.compile(r"\binvoice[ :]*(?:nr|numer|no\.|number)?[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
    (("umowa",),
     re.compile(r"\bumowa[ :]*(?:nr|numer|no\.|number)?[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE)),
)

# Court case signature patterns — smart_extractor.py:103-106 (X4).  Present
# in the reference but unused by its extract_info; exposed here as a
# standalone scalar for completeness.
_SIGNATURE_PATTERNS: tuple[re.Pattern[str], ...] = (
    re.compile(r"\b(?:sygn\.?|sygnatura)[ :]*(?:akt)?[ :]*([A-Za-z0-9\.\-/]+)\b", re.IGNORECASE),
    re.compile(r"\b([A-Z]{2,4}[ /][A-Za-z0-9]{1,4}[ /][0-9]{1,5}[ /][0-9]{1,5})\b"),
)

# Sender/recipient role patterns — smart_extractor.py:109-115.
_PARTY_PATTERNS: tuple[tuple[tuple[str, ...], re.Pattern[str]], ...] = (
    (("od", "nadawca", "wykonawca", "zleceniobiorca", "usługodawca"),
     re.compile(r"(?:od|nadawca|wykonawca|zleceniobiorca|usługodawca)[:\s]+([A-ZŻŹĆĄŚĘŁÓŃ][^\.]{5,50})", re.IGNORECASE)),
    (("do", "odbiorca", "zamawiający", "zleceniodawca", "usługobiorca"),
     re.compile(r"(?:do|odbiorca|zamawiający|zleceniodawca|usługobiorca)[:\s]+([A-ZŻŹĆĄŚĘŁÓŃ][^\.]{5,50})", re.IGNORECASE)),
    (("sp.", "s.a.", "o.o."),
     re.compile(r"\b([A-ZŻŹĆĄŚĘŁÓŃ][A-ZŻŹĆĄŚĘŁÓŃ\s]{2,}(?:SP\.|SP\.\sZ\sO\.O\.|S\.A\.|Z\sO\.O\.))", re.IGNORECASE)),
    (("spółka", "przedsiębiorstwo", "firma", "zakład", "centrum", "biuro"),
     re.compile(r"\b((?:spółka|przedsiębiorstwo|firma|zakład|centrum|biuro)[^\n\.]{5,50})", re.IGNORECASE)),
)
_ADDRESS_GATES = ("ul.", "ulica", "al.", "aleja")
_ADDRESS_PATTERN = re.compile(r"(?:ul\.|ulica|al\.|aleja)[^\n,]{2,30},[^\n]{2,30}\d{2}-\d{3}", re.IGNORECASE)

# Subject patterns — smart_extractor.py:118-122.  Entries are
# (substring gates, fine gate regex-or-None, full pattern): the substring
# gate is a memchr-fast prefilter; the optional FINE gate is a much
# simpler regex over the already-lowered text that must hit whenever the
# full pattern can (profiled: the bare "re" substring fires on most
# Polish prose — adres/prezes/numerze — sending the expensive alternation
# scan over nearly every document; "re[\s:]" is what the alternation
# actually requires of that branch, and the other two branches end in the
# same "g[\s:]"-style tails covered below).
_SUBJECT_PATTERNS: tuple[
    tuple[tuple[str, ...], re.Pattern[str] | None, re.Pattern[str]], ...
] = (
    (("dotyczy", "dot.", "w sprawie", "temat", "przedmiot", "sprawa"), None,
     re.compile(r"(?:dotyczy|dot\.|w sprawie|temat|przedmiot|sprawa)[:\s]+([^\n\.]{10,100})", re.IGNORECASE)),
    (("sprawa:", "dot.:"), None,
     re.compile(r"(?:sprawa|dot\.):[^\n\.]{5,100}", re.IGNORECASE)),
    # NB: the substring gate must cover EVERY alternative ("subject" does
    # not contain "re"); the 2-char "re" makes it weak but sound.  Any
    # full-pattern match requires one of subject/regarding/re followed by
    # [:\s] — exactly what the fine gate probes on the lowered text.
    (("subject", "regarding", "re"),
     re.compile(r"(?:subject|regarding|re)[\s:]"),
     re.compile(r"(?:subject|regarding|re)[:\s]+([^\n\.]{5,100})", re.IGNORECASE)),
)
_SUBJECT_PREFIXES = ("dotyczy:", "dot.:", "w sprawie:", "temat:", "przedmiot:")

EMPTY_SMART_INFO: dict[str, str] = {
    "data": "",
    "nadawca_odbiorca": "",
    "w_sprawie": "",
    "numer_dokumentu": "",
    "typ_dokumentu": "",
}


def find_document_type(text: str, low: str | None = None) -> str:
    """Keyword-table document-type detection (X1, smart_extractor.py:124-144).

    Scan order: (1) each keyword in table order against the 500-char
    lowercased header — a cheap substring probe gates the word-boundary
    regex; (2) each keyword in table order against the whole lowered text.

    ``low``: optional precomputed ``text.lower()`` shared by composed
    callers (one case-mapping pass per document, not five).
    """
    text_lower = low if low is not None else text.lower()
    header = text_lower[:500] if len(text_lower) > 500 else text_lower
    for keyword, pattern, doc_type in _TYPE_PATTERNS:
        if keyword in header and pattern.search(header):
            return doc_type
    for keyword, pattern, doc_type in _TYPE_PATTERNS:
        # substring gate (C-speed) before the regex scan: a \b-bounded hit
        # requires the literal substring, so this prunes without changing
        # the match outcome (the reference gates only the header pass)
        if keyword in text_lower and pattern.search(text_lower):
            return doc_type
    return ""


def extract_date(text: str, low: str | None = None) -> str:
    """Date extraction + normalisation (X2, smart_extractor.py:146-176).

    Numeric forms normalise to ``YYYY-MM-DD`` with zero-padded month/day
    (the year is echoed verbatim, so ``5/1/99`` stays ``99-...``).  Word
    forms resolve the month by a case-sensitive substring probe of the
    matched fragment; an unresolved month falls through to the next pattern.

    ``low``: optional precomputed ``text.lower()``; computed lazily here
    only if a word-month gate is reached (the numeric fast path never
    pays the case-mapping pass).
    """
    if GATES_ENABLED and not _HAS_DIGIT.search(text):
        return ""  # every date pattern requires digits — gate, not semantics
    for months, pattern in _DATE_PATTERNS:
        if GATES_ENABLED and months is not None:
            if low is None:
                low = _gate_probe(text.lower())
            if not _any_in(low, months):
                continue
        m = pattern.search(text)
        if not m:
            continue
        g = m.groups()
        if len(g) == 3:
            if len(g[0]) == 4:  # YYYY sep M sep D
                return f"{g[0]}-{int(g[1]):02d}-{int(g[2]):02d}"
            return f"{g[2]}-{int(g[1]):02d}-{int(g[0]):02d}"  # D sep M sep YYYY
        if len(g) == 2:  # "<day> <monthname> <year>"
            fragment = m.group(0)
            day = int(g[0])
            for month_name, month_num in _MONTHS.items():
                if month_name in fragment:
                    return f"{int(g[1])}-{month_num:02d}-{day:02d}"
    return ""


def extract_document_number(text: str, low: str | None = None) -> str:
    """Document-number extraction (X3, smart_extractor.py:178-184).

    ``low``: optional precomputed gate-probe string
    (``_gate_probe(text.lower())``) shared by composed callers."""
    if low is None:
        low = _gate_probe(text.lower())
    for gates, pattern in _NUMBER_PATTERNS:
        if GATES_ENABLED and not _any_in(low, gates):
            continue
        m = pattern.search(text)
        if m:
            return m.group(1).strip()
    return ""


def extract_court_signature(text: str) -> str:
    """Court-signature extraction (X4, smart_extractor.py:103-106)."""
    low = _gate_probe(text.lower())
    has_digit = _HAS_DIGIT.search(text) is not None
    for i, pattern in enumerate(_SIGNATURE_PATTERNS):
        # gates: pattern 1 requires the literal "sygn"; pattern 2 requires
        # digits — implied by any match, so skipping cannot change results
        if GATES_ENABLED and i == 0 and "sygn" not in low:
            continue
        if GATES_ENABLED and i == 1 and not has_digit:
            continue
        m = pattern.search(text)
        if m:
            return m.group(1).strip()
    return ""


def extract_sender_recipient(text: str, low: str | None = None) -> str:
    """Sender/recipient extraction (X5, smart_extractor.py:186-205).

    Role-keyword patterns first; failing those, locate a Polish street
    address and return the non-empty line immediately above it when its
    length is in (3, 60).

    ``low``: optional precomputed gate-probe string
    (``_gate_probe(text.lower())``) shared by composed callers.
    """
    if low is None:
        low = _gate_probe(text.lower())
    for gates, pattern in _PARTY_PATTERNS:
        if GATES_ENABLED and not _any_in(low, gates):
            continue
        m = pattern.search(text)
        if m:
            return m.group(1).strip()
    addr = (
        _ADDRESS_PATTERN.search(text)
        if not GATES_ENABLED
        or (_any_in(low, _ADDRESS_GATES) and _HAS_DIGIT.search(text))
        else None
    )
    if addr:
        lines = text[: addr.start()].strip().split("\n")
        if lines:
            candidate = lines[-1].strip()
            if 3 < len(candidate) < 60:
                return candidate
    return ""


def extract_subject(text: str, doc_type: str | None = None,
                    low: str | None = None) -> str:
    """Subject extraction (X6, smart_extractor.py:207-223).

    Returns the *whole* match (group 0) with five literal lowercase
    prefixes stripped, capped at 100 chars.  The document-type fallback
    reproduces the reference's f-string artifact: ``{10,100}`` inside its
    rf-string is a Python expression, so the effective tail of the pattern
    is the literal ``(10, 100)`` (smart_extractor.py:218) — the fallback
    practically never fires; kept for byte-parity.

    ``doc_type``: optional precomputed :func:`find_document_type` result
    (a pure function of ``text``) so composed callers scan the keyword
    table once instead of three times.

    ``low``: optional precomputed gate-probe string
    (``_gate_probe(text.lower())``) shared by composed callers — used
    only for the literal gates and the fine gate, never as a pattern's
    search subject.
    """
    if low is None:
        low = _gate_probe(text.lower())
    for gates, fine_gate, pattern in _SUBJECT_PATTERNS:
        if GATES_ENABLED and not _any_in(low, gates):
            continue
        if GATES_ENABLED and fine_gate is not None and not fine_gate.search(low):
            continue
        m = pattern.search(text)
        if m:
            subject = m.group(0)
            for prefix in _SUBJECT_PREFIXES:
                subject = subject.replace(prefix, "")
            return subject.strip()[:100]
    if doc_type is None:
        doc_type = find_document_type(text)
    if doc_type:
        # NB: literal "(10, 100)" — intentional parity with the reference bug.
        pattern = doc_type.lower() + "[:\\s]+([^\\n\\.](10, 100))"
        m = re.search(pattern, text, re.IGNORECASE)
        if m:
            return m.group(1).strip()
    return ""


def smart_extract_info(text: str, entity_provider=None) -> dict[str, str]:
    """Composed rule-tier extraction (X7, smart_extractor.py:225-295).

    Empty input → all-empty record; any internal exception → all-empty
    record (errors are data, never failures).

    ``entity_provider``: optional ``text -> {LABEL: [surface, ...]}``
    callable (e.g. :class:`archvisier_spark.kernel.ner.RuleNer`).  When
    given, still-empty fields are backfilled from the entity groups —
    the reference's ``if self.nlp`` branch (smart_extractor.py:261-276):
    rules win when non-empty, entities fill the gaps, surfaces join with
    a single space after newline flattening.  The provider runs inside
    the same try, so its exceptions also collapse to the all-empty record.
    """
    if not text:
        return dict(EMPTY_SMART_INFO)
    try:
        low = text.lower()  # one case-mapping pass shared by all extractors
        glow = _gate_probe(low)  # gate-probe variant (ı→i, ſ→s residual folds)
        doc_type = find_document_type(text, low=low)
        info = {
            "data": extract_date(text, low=glow),
            "nadawca_odbiorca": extract_sender_recipient(text, low=glow),
            "w_sprawie": extract_subject(text, doc_type, low=glow),
            "numer_dokumentu": extract_document_number(text, low=glow),
            "typ_dokumentu": doc_type,
        }
        if entity_provider is not None:
            from archvisier_spark.kernel.ner import backfill_from_entities

            backfill_from_entities(info, entity_provider(text))
        return info
    except Exception:
        return dict(EMPTY_SMART_INFO)
