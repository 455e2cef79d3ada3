"""OCR text repair and language detection (X9/X10).

Reimplements the dictionary-repair pass of processing/ocr.py:108-130 and
the diacritics language heuristic of processing/ocr.py:66-70.
"""

from __future__ import annotations

import re

# Reference fallback dictionaries (processing/ocr.py:108-109).  Stored as
# sorted tuples so nearest-word ties resolve deterministically — the
# reference iterates a Python set, whose order is hash-seed dependent; a
# fixed order is the only reproducible choice (documented divergence,
# unreachable in the reference's own tests).
POLISH_DICTIONARY: tuple[str, ...] = ("przyklad", "test")
ENGLISH_DICTIONARY: tuple[str, ...] = ("example", "test")

_TOKEN_SPLIT = re.compile(r"(\W+)")
# C-speed form of `any(ch in "ąćęłńóśżź" for ch in text.lower())`: each
# uppercase variant lowercases 1:1 to its class member, so searching both
# cases over the ORIGINAL text is value-equal and skips the .lower() copy
_POLISH_RE = re.compile("[ąćęłńóśżźĄĆĘŁŃÓŚŻŹ]")

# Repair accepts a replacement only at distance ≤ 2, so the argmin over the
# dictionary only matters for distances ≤ 2 (dictionary words are mutually
# > 4 apart, so at most one candidate can be within 2 — no ambiguous argmin
# exists).  That licenses three exact-semantics fast paths:
#   * length: |len(a)-len(b)| > 2 ⇒ distance > 2;
#   * foreign characters: every character of the token that is not a letter
#     of the word costs a substitution or a deletion, so a token with more
#     than 2 of them is more than 2 away.  str.translate with a table that
#     deletes the word's letters counts them at C speed; almost no token of
#     real text survives it, so the DP below rarely runs;
#   * a banded DP that gives exact values ≤ 2 and saturates at 3 otherwise.
_CUTOFF = 2


def _bounded_levenshtein(a: str, b: str, k: int = _CUTOFF) -> int:
    """Exact edit distance if ≤ k, else any value > k (Ukkonen band)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > k:
        return k + 1
    prev = list(range(lb + 1))
    big = k + 1
    for i in range(1, la + 1):
        lo = max(1, i - k)
        hi = min(lb, i + k)
        cur = [big] * (lb + 1)
        cur[0] = i if i <= k else big
        ca = a[i - 1]
        row_min = cur[0] if lo == 1 else big
        for j in range(lo, hi + 1):
            cost = 0 if ca == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            cur[j] = v
            if v < row_min:
                row_min = v
        if row_min > k:
            return big
        prev = cur
    return prev[lb]


# word → str.translate table deleting the word's letters, for every
# dictionary word (built once: the dictionaries are fixed)
_DELETE_LETTERS = {
    w: str.maketrans("", "", w) for w in {*POLISH_DICTIONARY, *ENGLISH_DICTIONARY}
}


def _repair_word(lower: str, dictionary: tuple[str, ...]) -> str | None:
    """Replacement word for ``lower``, or None to keep the token."""
    if lower in dictionary:
        return None
    best, best_d = None, _CUTOFF + 1
    for w in dictionary:
        if len(lower.translate(_DELETE_LETTERS[w])) > _CUTOFF:
            continue
        d = _bounded_levenshtein(lower, w)
        if d < best_d:
            best, best_d = w, d
    return best if best_d <= _CUTOFF else None


# The one token memo: raw token → repaired token, per dictionary.  OCR
# text re-uses its surface vocabulary (incl. separator runs) heavily, so a
# repeated token skips isalpha, lower and the banded DP.  Keyed by the
# dictionary tuple itself (resolved once per correct_text call) and
# bounded: cleared past 128k distinct tokens so a 100 TB executor can't
# grow it without limit.
_TOKEN_MEMO: dict[tuple[str, ...], dict[str, str]] = {}
_TOKEN_MEMO_CAP = 1 << 17


def _repair_token(token: str, dictionary: tuple[str, ...], memo: dict[str, str]) -> str:
    out = memo.get(token)
    if out is not None:
        return out
    if not token.isalpha():
        out = token
    else:
        repl = _repair_word(token.lower(), dictionary)
        out = token if repl is None else repl
    if len(memo) >= _TOKEN_MEMO_CAP:
        memo.clear()
    memo[token] = out
    return out


def correct_text(text: str, lang: str) -> str:
    """Per-token dictionary repair preserving separators exactly.

    Tokenises with ``re.split(r"(\\W+)")`` (separators kept), replaces any
    alphabetic token within edit distance ≤ 2 of a dictionary word by that
    word (processing/ocr.py:112-130).  ``lang == "pol"`` selects the Polish
    dictionary, anything else English.
    """
    dictionary = POLISH_DICTIONARY if lang == "pol" else ENGLISH_DICTIONARY
    memo = _TOKEN_MEMO.setdefault(dictionary, {})
    return "".join(
        [_repair_token(t, dictionary, memo) for t in _TOKEN_SPLIT.split(text)]
    )


def detect_lang(text: str) -> str:
    """Diacritics heuristic: any of ``ąćęłńóśżź`` → ``pl``, else ``en``
    (processing/ocr.py:66-70)."""
    return "pl" if _POLISH_RE.search(text) else "en"


def build_ocr_config(config: str, psm: int, oem: int) -> str:
    """Merge a user OCR config string with psm/oem defaults (X11,
    processing/ocr.py:133-143): append ``--psm``/``--oem`` unless present."""
    parts = []
    config = config.strip()
    if config:
        parts.append(config)
    if "--psm" not in config:
        parts.append(f"--psm {psm}")
    if "--oem" not in config:
        parts.append(f"--oem {oem}")
    return " ".join(parts)
