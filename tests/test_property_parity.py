"""Property-based parity: randomized inputs (hypothesis) through our
functions vs the reference oracles — catches packing/boundary edge cases the
fixed fixtures miss. A fixed sample of each property's inputs, with the
outputs of the reference-verified tree, is frozen in
tests/frozen/property_parity.json, so the comparison also runs without the
reference checkout; the live properties skip then."""

from __future__ import annotations

import json

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from reference_oracle import (
    frozen_reference,
    needs_reference,
    ref_ssml_processing,
    ref_timestamp,
    ref_utils,
)
from textractssmlprocessor_spark.functions import chunking, cleaning, ssml, subtitles

_FROZEN = {
    "chunk_text": chunking.chunk_text,
    "remove_headers": cleaning.remove_headers,
    "preprocess_ssml_tags": ssml.preprocess_ssml_tags,
    "split_ssml": chunking.split_ssml,
    "split_into_subtitles": subtitles.split_into_subtitles,
    "split_latin_subtitles": subtitles.split_latin_subtitles,
    "format_time": cleaning.format_time,
}


@pytest.mark.parametrize("name", list(_FROZEN))
def test_matches_frozen_reference(name):
    cases = frozen_reference(name, "property_parity")
    assert cases
    for args, want in cases:
        # the JSON round trip turns tuples into lists, as in the frozen file
        assert json.loads(json.dumps(_FROZEN[name](*args))) == want, args


# text made of words, punctuation, newlines — printable ASCII plus a little
# unicode to exercise isupper/word-boundary semantics
_WORD = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x24F
    ),
    min_size=1,
    max_size=10,
)
_SEP = st.sampled_from([" ", " ", " ", ". ", "! ", "? ", "\n", ", "])
_TEXT = st.lists(st.tuples(_WORD, _SEP), min_size=0, max_size=80).map(
    lambda ps: "".join(w + s for w, s in ps)
)


@needs_reference
@settings(max_examples=150, deadline=None)
@given(_TEXT, st.integers(min_value=10, max_value=300))
def test_chunk_text_property(text, size):
    assert chunking.chunk_text(text, size) == ref_utils().chunk_text(text, size)


@needs_reference
@settings(max_examples=150, deadline=None)
@given(_TEXT)
def test_remove_headers_property(text):
    assert cleaning.remove_headers(text) == ref_utils().remove_headers(text)


@needs_reference
@settings(max_examples=150, deadline=None)
@given(_TEXT)
def test_preprocess_ssml_property(text):
    assert ssml.preprocess_ssml_tags(text) == ref_utils().preprocess_ssml_tags(text)


_TAGS = st.sampled_from(
    ["<p>", "</p>", "<s>", "</s>", "<break/>", "<lang xml:lang='en'>", "</lang>",
     "<speak>", "</speak>", "<em>", "</em>"]
)
_SSML = st.lists(
    st.one_of(_TAGS, _WORD.map(lambda w: w + " ")), min_size=0, max_size=60
).map("".join)


@needs_reference
@settings(max_examples=150, deadline=None)
@given(_SSML, st.integers(min_value=15, max_value=200))
def test_split_ssml_property(text, size):
    assert chunking.split_ssml(text, size) == ref_ssml_processing().split_ssml(
        text, size
    )


@needs_reference
@settings(max_examples=100, deadline=None)
@given(
    _TEXT.filter(lambda t: len(t.strip()) > 0),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
    st.floats(min_value=0.1, max_value=500.0, allow_nan=False),
)
def test_subtitles_property(text, start, dur):
    end = start + dur
    ref = ref_timestamp().split_into_subtitles(text, start, end)
    assert subtitles.split_into_subtitles(text, start, end) == ref


@needs_reference
@settings(max_examples=100, deadline=None)
@given(
    _TEXT.filter(lambda t: len(t.strip()) > 0),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
    st.floats(min_value=0.1, max_value=500.0, allow_nan=False),
)
def test_latin_subtitles_property(text, start, dur):
    end = start + dur
    assert subtitles.split_latin_subtitles(
        text, start, end
    ) == ref_timestamp().split_latin_subtitles(text, start, end)


@needs_reference
@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0, max_value=200000, allow_nan=False))
def test_format_time_property(seconds):
    assert cleaning.format_time(seconds) == ref_timestamp().format_time(seconds)


_ABBR_TEXT = st.lists(
    st.tuples(
        st.sampled_from(
            ["ibid.", "e.g.", "i.e.", "etc.", "cf.", "viz.", "vs.", "ca.", "fl.",
             "et al.", "ch. 3", "vol. 2", "p. 14", "pp. 14", "word", "P. 9",
             "Etc.", "1 Corinthians", "II Samuel", "XIV", "I", "A.B.", ".",
             "İbid.", "ı.e.", "vſ."]
        ),
        # "" makes abbreviations touch, where one entry's rewrite changes
        # whether the next one matches
        st.sampled_from(["", " ", "\n"]),
    ),
    min_size=0,
    max_size=40,
).map(lambda ps: "".join(w + s for w, s in ps))


@settings(max_examples=300, deadline=None)
@given(_ABBR_TEXT)
@example("vs.pp. 12")
@example("e.g.cf. x")
@example("i.e.etc.")
@example("i.e.g.")
def test_abbreviations_equal_sequential(text):
    from textractssmlprocessor_spark.functions import subs

    assert subs.expand_abbreviations(text) == subs.expand_abbreviations_sequential(
        text
    )


def _books_and_numerals_oracle(text):
    """The \\b-led book and Roman-numeral patterns, tried at every
    position: the equivalence oracle for expand_bible_books followed by
    convert_roman_numerals."""
    import re

    from textractssmlprocessor_spark.functions import subs

    books = "|".join(subs._NUMBERED_BOOKS)
    text = re.sub(r"\b([123])\s+(%s)\b" % books,
                  lambda m: f"{subs._ORDINALS[m.group(1)]} {m.group(2)}", text)
    text = re.sub(r"\b(I{1,3})\s+(%s)\b" % books,
                  lambda m: f"{subs._ROMAN_TO_ORDINAL[m.group(1)]} {m.group(2)}", text)
    return re.sub(
        r"\b(?=[IVXLCDM]{2,}\b)(M{0,3})(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})\b",
        lambda m: str(subs.roman_to_int(m.group(0))) if m.group(0) else "",
        text,
    )


_BOOK_ROMAN_TEXT = st.one_of(
    st.lists(
        st.tuples(
            st.sampled_from(
                ["1", "2", "3", "4", "11", "I", "II", "III", "IIII", "Samuel",
                 "Kings", "John", "Johnny", "Peter", "XIV", "MCMXC", "MMMM", "IC",
                 "VX", "IIX", "DC", "CIVIL", "iv", "MIX", "LI", "x", "é", "_", "Ⅻ"]
            ),
            st.sampled_from(["", " ", "  ", "\n", "\t", ".", "-"]),
        ),
        max_size=30,
    ).map(lambda ps: "".join(w + s for w, s in ps)),
    st.text(alphabet="IVXLCDM123 Samuel\né_.", max_size=60),
)


@settings(max_examples=400, deadline=None)
@given(_BOOK_ROMAN_TEXT)
@example("II Samuel XIV")
@example("x1 Samuel, é2 Kings, _3 John, \n1 Peter")
@example("III Kings IIII John IIX MMMCMXCIX")
@example("I\nSamuel CIVIL XIVé DCé_")
def test_books_and_numerals_equal_boundary_patterns(text):
    from textractssmlprocessor_spark.functions import subs

    assert subs.convert_roman_numerals(
        subs.expand_bible_books(text)
    ) == _books_and_numerals_oracle(text)


def test_abbreviation_case_fold_tables_match_re():
    """The gated pass's soundness rests on two tables describing re's
    IGNORECASE matching; a Python whose case tables differ must fail here
    instead of silently skipping a rewrite."""
    import re
    import sys

    from textractssmlprocessor_spark.functions import subs

    every = "".join(map(chr, range(sys.maxunicode + 1)))
    cores = [core for core, _, _ in subs._ABBREVIATIONS]
    for core in cores:
        letter = core[0]
        assert set(subs._FIRST_CASES[letter]) == set(
            re.findall(letter, every, re.IGNORECASE)
        ), letter
    for letter in {ch for core in cores for ch in core if ch.isalpha()}:
        for c in re.findall(letter, every, re.IGNORECASE):
            assert c.translate(subs._FOLD_EXOTIC).lower() == letter, (letter, c)


# --- sessionize gap-split property (pure function, no Spark) ----------------

from hypothesis import given, settings, strategies as st


@settings(deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**7),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=10**6),
)
def test_split_sessions_matches_bruteforce(events, gap_us):
    from textractssmlprocessor_spark.streaming.sessionize import _split_sessions

    events = sorted(events)
    ts = [e[0] for e in events]
    vals = [e[1] for e in events]
    got = _split_sessions(ts, vals, gap_us)

    # brute force: split where the inter-event delta exceeds the gap
    sessions, cur = [], [0]
    for i in range(1, len(ts)):
        if ts[i] - ts[i - 1] > gap_us:
            sessions.append(cur)
            cur = []
        cur.append(i)
    sessions.append(cur)
    expected = [
        (ts[s[0]], ts[s[-1]], len(s), sum(vals[i] for i in s)) for s in sessions
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [
        (e[0], e[1], e[2]) for e in expected
    ]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < 1e-9
