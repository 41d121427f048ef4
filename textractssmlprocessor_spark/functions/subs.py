"""Deterministic substitution tables.

The reference delegates these rewrites to GPT prompts (reference
utils.py:96-101 asks for Roman-numeral conversion + abbreviation expansion;
utils.py:113-115 asks for 'ibid.' replacement and full Bible-book names).
Our engine replaces the non-deterministic LLM with ordered substitution
tables, applied entry by entry, so output is a pure function of input.

Order matters: Bible-book renames run before generic abbreviation expansion
(so "1 Cor." resolves as a book, not as a stray abbreviation), and Roman
numerals run last (book renames consume forms like "II Samuel" first).
"""

from __future__ import annotations

import re

_ORDINALS = {"1": "First", "2": "Second", "3": "Third"}

# Numbered Bible books that appear with a leading arabic or roman numeral.
_NUMBERED_BOOKS = [
    "Samuel", "Kings", "Chronicles", "Corinthians", "Thessalonians",
    "Timothy", "Peter", "John", "Maccabees", "Esdras",
]

_ROMAN_TO_ORDINAL = {"I": "First", "II": "Second", "III": "Third"}

# (literal core, trailing context, replacement) triples, applied one after
# another in table order: entry k sees the output of entries 0..k-1. Each
# entry's pattern is r"\b" + core + context under re.IGNORECASE. Kept small
# and auditable; extendable per corpus.
_ABBREVIATIONS: list[tuple[str, str, str]] = [
    ("ibid.", "", "in the same place"),
    ("e.g.", "", "for example"),
    ("i.e.", "", "that is"),
    ("etc.", "", "et cetera"),
    ("cf.", "", "compare"),
    ("viz.", "", "namely"),
    ("vs.", "", "versus"),
    ("ca.", "", "circa"),
    ("fl.", "", "flourished"),
    ("et al.", "", "and others"),
    ("ch.", r"\s*(?=\d)", "chapter "),
    ("vol.", r"\s*(?=\d)", "volume "),
    ("p.", r"\s*(?=\d)", "page "),
    ("pp.", r"\s*(?=\d)", "pages "),
]

# The characters re.IGNORECASE matches for each core's first letter, and
# the ones it matches to a core letter that str.lower() misses (İ, ı -> i;
# ſ -> s); tests/test_property_parity.py pins both against re. A leading \b
# or IGNORECASE letter makes re try a match at every position; a
# case-sensitive class gives it a prefix to scan ahead on, and since every
# member is a word character, (?<!\w.) after it is the same test as \b.
_FIRST_CASES = {"i": "iIİı", "e": "eE", "c": "cC", "v": "vV", "f": "fF", "p": "pP"}
_FOLD_EXOTIC = str.maketrans({0x130: "i", 0x131: "i", 0x17F: "s"})
_GATED_ABBREV = [
    (c, re.compile(f"(?-i:[{_FIRST_CASES[c[0]]}])(?<!\\w.)"
                   + re.escape(c[1:]) + ctx, re.IGNORECASE), r)
    for c, ctx, r in _ABBREVIATIONS
]

# The same prefix-scannable spelling for the books and Roman numerals: a
# leading literal or class, then (?<!\w.) for the \b before it.
_BOOK_ARABIC = re.compile(
    r"([123])(?<!\w.)\s+(%s)\b" % "|".join(_NUMBERED_BOOKS)
)
_BOOK_ROMAN = re.compile(
    r"(I(?<!\w.)I{0,2})\s+(%s)\b" % "|".join(_NUMBERED_BOOKS)
)

# A word of >= 2 roman letters only; it converts when it is one numeral.
_ROMAN_WORD = re.compile(r"[IVXLCDM](?<!\w.)[IVXLCDM]+\b")
_ROMAN_NUMERAL = re.compile(r"M{0,3}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})")

_ROMAN_VALUES = {"I": 1, "V": 5, "X": 10, "L": 50, "C": 100, "D": 500, "M": 1000}


def roman_to_int(s: str) -> int:
    total = 0
    prev = 0
    for ch in reversed(s):
        v = _ROMAN_VALUES[ch]
        total = total - v if v < prev else total + v
        prev = max(prev, v)
    return total


def expand_bible_books(text: str) -> str:
    """'1 Corinthians' / 'II Samuel' -> 'First Corinthians' / 'Second Samuel'."""
    # both patterns are case-sensitive and require a book name verbatim: a
    # memchr scan proves the alternation can't match (common case: no scan)
    if not any(map(text.__contains__, _NUMBERED_BOOKS)):
        return text
    text = _BOOK_ARABIC.sub(lambda m: f"{_ORDINALS[m.group(1)]} {m.group(2)}", text)
    text = _BOOK_ROMAN.sub(
        lambda m: f"{_ROMAN_TO_ORDINAL[m.group(1)]} {m.group(2)}", text
    )
    return text


def expand_abbreviations(text: str) -> str:
    """expand_abbreviations_sequential, skipping each entry whose core is
    absent from the case-folded input. Exact: no replacement contains a
    '.', so no entry can create a core that was absent at the start."""
    if "." not in text:
        return text
    exotic = "İ" in text or "ı" in text or "ſ" in text
    low = (text.translate(_FOLD_EXOTIC) if exotic else text).lower()
    for core, pat, repl in _GATED_ABBREV:
        if core in low:
            text = pat.sub(repl, text)
    return text


def expand_abbreviations_sequential(text: str) -> str:
    """_ABBREVIATIONS applied in table order, every entry on the whole text:
    the equivalence oracle for expand_abbreviations."""
    for core, ctx, repl in _ABBREVIATIONS:
        text = re.sub(r"\b" + re.escape(core) + ctx, repl, text, flags=re.IGNORECASE)
    return text


def convert_roman_numerals(text: str) -> str:
    """Standalone Roman numerals (len >= 2, so the pronoun 'I' and single
    letters survive) -> arabic digits."""

    def repl(m: re.Match) -> str:
        s = m.group(0)
        return str(roman_to_int(s)) if _ROMAN_NUMERAL.fullmatch(s) else s

    return _ROMAN_WORD.sub(repl, text)


def expand_substitutions(text: str) -> str:
    """Full deterministic rewrite chain (book names -> abbreviations ->
    roman numerals), replacing the reference's LLM prompt behaviors."""
    text = expand_bible_books(text)
    text = expand_abbreviations(text)
    text = convert_roman_numerals(text)
    return text
