"""Tier-1 parity: our pure functions vs the reference's, byte-for-byte.

Oracle = the reference's own functions imported with stubbed third-party deps
(see reference_oracle.py). Functions whose reference implementation requires
lxml/bs4 (unavailable) are pinned by goldens in test_ssml.py / test_dom.py.
Every case's output from the reference-verified tree is frozen in
tests/frozen/function_parity.json, so the comparison also runs without the
reference checkout; the live tests skip then.
"""

from __future__ import annotations

import json

import pytest

from reference_oracle import (
    frozen_reference,
    needs_reference,
    ref_ssml_processing,
    ref_ssml_validator,
    ref_text_processing,
    ref_timestamp,
    ref_utils,
)
from textractssmlprocessor_spark.functions import chunking, cleaning, ssml, subtitles
from textractssmlprocessor_spark.operators.textstats import count_words_py

HEADER_TEXTS = [
    "CHAPTER ONE\nIt was a dark night.\nTHE END",
    "A TITLE WITH MANY WORDS IN IT\nbody line\nSHORT TITLE",
    "MIXED Case Line\n123 456\nALL CAPS FOUR WORD LINE EXTRA",
    "",
    "no headers here\njust text",
    "ÉTÉ CHAUD\nnormal line",  # unicode isupper semantics
    "A.B.C.\nkeep me",
]

NOTE_TEXTS = [
    "before [Note: simple] after",
    "x [Note: outer [inner [deep [deepest]]]] y",
    "keep [not a note] <p>  </p> <br> tail <small> </small> end",
    "multi\n[Note: spans\nlines] done",
    "[note: case insensitive] ok",
]

SSML_SAMPLES = [
    "<speak>Hello <em>world</em> &amp; good day</speak>",
    "plain text no tags",
    "<speak><sub alias='x'>y</sub> rest</speak>",
    "<div>drop me</div><p>keep</p><BREAK/><lang xml:lang='en'>hi</lang>",
    "a <phoneme ph='x'>b</phoneme> c &#8217; d &lt;escaped&gt;",
    "<speak>text</speak><script>bad()</script>",
]

SECTION_TEXTS = [
    "a<h4><center>T1</center></h4>b<h4><center>T2</center></h4>c",
    "<h4><center>only title</center></h4>",
    "no sections",
    "  <br>  <h4><center>X</center></h4> body ",
]

CHUNK_TEXTS = [
    "One. Two. Three.",
    ("A sentence that is quite long indeed. " * 80).strip(),
    "",
    "No terminal punctuation at all just words " * 10,
    "Short. " + "x" * 2500 + ". Tail.",
    "Multi\nline. Text with\nbreaks. End.",
]

CHUNK_SIZES = [30, 100, 2000]

SPLIT_SSML_CASES = [
    ("<speak><p>" + "word " * 40 + "</p><p>" + "tail " * 40 + "</p></speak>", 100),
    ("<speak>" + "x" * 60 + "<break/>" + "y" * 60 + "</speak>", 50),
    ("<speak><lang xml:lang='la'>" + "z " * 100 + "</lang></speak>", 80),
    ("<speak><p>This is a test.</p><p>Another sentence here.</p></speak>", 30),
    ("plain without tags " * 20, 64),
    ("<speak><p>a</p></speak>", 2500),
]

SUBTITLE_CASES = [
    ("First sentence here. Second one follows! Third? Yes.", 0.0, 12.0),
    ("One long unbroken sentence with no punctuation at all", 3.5, 9.25),
    ('He said "stop. now." and left. (Pausing. Briefly.) Done.', 0.0, 30.0),
    ("Word " * 100, 0.0, 55.5),
]

# (text, start, end, max_chars): one sentence longer than max_chars
LATIN_LONG_CASE = ("Lorem ipsum dolor " * 30 + ". Brevis.", 0.0, 40.0, 100)

SECONDS = [0.0, 1.5, 59.9994, 61.25, 3599.999, 3661.0078, 86399.5]

CLEAN_TEXTS = [
    "<p>Tag</p> stripped   here\n\n\nmulti  space",
    "line1\n  \nline2",
    "",
]

SORT_KEY_NAMES = ["file_part_2.txt", "a10b2", "chunk_100", "ABC", "x1y10z9"]

PART_NAMES = [f"book_part_{i}.json" for i in (1, 2, 10, 11, 100, 20, 3)]

TAG_TEXTS = [
    "<speak>words here</speak>",
    "<sub alias='x'>drop</sub> keep <w role='amazon:NN'>w</w>",
    "a   b\t c",
]

COUNT_TEXTS = ["hyphen-word two three", "a-b c_d 1 2", "", "only   spaces"]

# title file of part 3 of "base"
TITLE_CASE = ("base", 3)


@pytest.mark.parametrize("text", HEADER_TEXTS)
@needs_reference
def test_remove_headers_parity(text):
    assert cleaning.remove_headers(text) == ref_utils().remove_headers(text)


@pytest.mark.parametrize("text", HEADER_TEXTS + NOTE_TEXTS + SSML_SAMPLES)
@needs_reference
def test_is_html_parity(text):
    assert cleaning.is_html(text) == ref_utils().is_html(text)


@pytest.mark.parametrize("text", NOTE_TEXTS)
@needs_reference
def test_remove_notes_parity(text):
    assert cleaning.remove_notes(text) == ref_text_processing().remove_notes(text)


@pytest.mark.parametrize("text", NOTE_TEXTS)
@needs_reference
def test_remove_square_brackets_parity(text):
    assert cleaning.remove_square_brackets(
        text
    ) == ref_text_processing().remove_square_brackets(text)


@pytest.mark.parametrize("text", SECTION_TEXTS)
@needs_reference
def test_split_into_sections_parity(text):
    assert cleaning.split_into_sections(
        text
    ) == ref_text_processing().split_into_sections(text)


@pytest.mark.parametrize("text", CHUNK_TEXTS)
@needs_reference
def test_chunk_text_parity(text):
    # Reference chunk_text runs with nltk.sent_tokenize stubbed to OUR pinned
    # sentencizer, so packing must be byte-identical.
    assert chunking.chunk_text(text) == ref_utils().chunk_text(text)


@pytest.mark.parametrize("size", CHUNK_SIZES)
@pytest.mark.parametrize("text", CHUNK_TEXTS)
@needs_reference
def test_chunk_text_sizes_parity(text, size):
    assert chunking.chunk_text(text, size) == ref_utils().chunk_text(text, size)


@pytest.mark.parametrize("text", SSML_SAMPLES)
@needs_reference
def test_preprocess_ssml_tags_parity(text):
    assert ssml.preprocess_ssml_tags(text) == ref_utils().preprocess_ssml_tags(text)


@pytest.mark.parametrize("text,size", SPLIT_SSML_CASES)
@needs_reference
def test_split_ssml_parity(text, size):
    assert chunking.split_ssml(text, size) == ref_ssml_processing().split_ssml(
        text, size
    )


def test_split_ssml_reference_unit_case():
    # The reference's own unit test shape (tests/test_ssml_processing.py:19-24)
    ssml_in = "<speak><p>Hello world.</p><p>Goodbye world.</p></speak>"
    chunks = chunking.split_ssml(ssml_in, max_chunk_size=30)
    assert len(chunks) == 2
    for c in chunks:
        assert c.startswith("<speak>") and c.endswith("</speak>")


@pytest.mark.parametrize("text,start,end", SUBTITLE_CASES)
@needs_reference
def test_split_into_subtitles_parity(text, start, end):
    ours = subtitles.split_into_subtitles(text, start, end)
    refs = ref_timestamp().split_into_subtitles(text, start, end)
    assert ours == refs


@pytest.mark.parametrize("text,start,end", SUBTITLE_CASES)
@needs_reference
def test_split_latin_subtitles_parity(text, start, end):
    ours = subtitles.split_latin_subtitles(text, start, end)
    refs = ref_timestamp().split_latin_subtitles(text, start, end)
    assert ours == refs


@needs_reference
def test_split_latin_long_sentence_parity():
    text, start, end, max_chars = LATIN_LONG_CASE
    ours = subtitles.split_latin_subtitles(text, start, end, max_chars=max_chars)
    refs = ref_timestamp().split_latin_subtitles(text, start, end, max_chars=max_chars)
    assert ours == refs


@pytest.mark.parametrize("seconds", SECONDS)
@needs_reference
def test_format_time_parity(seconds):
    assert cleaning.format_time(seconds) == ref_timestamp().format_time(seconds)


@pytest.mark.parametrize("text", CLEAN_TEXTS)
@needs_reference
def test_clean_text_parity(text):
    assert cleaning.clean_text(text) == ref_timestamp().clean_text(text)


@pytest.mark.parametrize("name", SORT_KEY_NAMES)
@needs_reference
def test_natural_sort_key_parity(name):
    assert cleaning.natural_sort_key(name) == ref_timestamp().natural_sort_key(name)


@needs_reference
def test_natural_sort_rank_key_total_order():
    by_ref = sorted(PART_NAMES, key=ref_timestamp().natural_sort_key)
    by_rank = sorted(PART_NAMES, key=cleaning.natural_sort_rank_key)
    assert by_ref == by_rank


@pytest.mark.parametrize("text", TAG_TEXTS)
@needs_reference
def test_remove_ssml_tags_keep_words_parity(text):
    assert cleaning.remove_ssml_tags_keep_words(
        text
    ) == ref_ssml_validator().remove_ssml_tags(text)


@pytest.mark.parametrize("text", COUNT_TEXTS)
@needs_reference
def test_count_words_parity(text):
    assert count_words_py(text) == ref_ssml_validator().count_words(text)


@needs_reference
def test_title_file_template_parity(tmp_path):
    ref = ref_utils()
    base, part = TITLE_CASE
    name = ref.generate_title_file("T", str(tmp_path), base, 1, part)
    with open(tmp_path / name, encoding="utf-8") as f:
        ref_content = f.read()
    assert cleaning.title_file_content() == ref_content
    assert cleaning.title_file_name(base, part) == name


# frozen section -> (our function, the argument tuples the live tests use)
_FROZEN = {
    "remove_headers": (cleaning.remove_headers, [(t,) for t in HEADER_TEXTS]),
    "is_html": (
        cleaning.is_html,
        [(t,) for t in HEADER_TEXTS + NOTE_TEXTS + SSML_SAMPLES],
    ),
    "remove_notes": (cleaning.remove_notes, [(t,) for t in NOTE_TEXTS]),
    "remove_square_brackets": (
        cleaning.remove_square_brackets, [(t,) for t in NOTE_TEXTS],
    ),
    "split_into_sections": (
        cleaning.split_into_sections, [(t,) for t in SECTION_TEXTS],
    ),
    "chunk_text": (
        chunking.chunk_text,
        [(t,) for t in CHUNK_TEXTS]
        + [(t, n) for n in CHUNK_SIZES for t in CHUNK_TEXTS],
    ),
    "preprocess_ssml_tags": (ssml.preprocess_ssml_tags, [(t,) for t in SSML_SAMPLES]),
    "split_ssml": (chunking.split_ssml, SPLIT_SSML_CASES),
    "split_into_subtitles": (subtitles.split_into_subtitles, SUBTITLE_CASES),
    "split_latin_subtitles": (
        subtitles.split_latin_subtitles, SUBTITLE_CASES + [LATIN_LONG_CASE],
    ),
    "format_time": (cleaning.format_time, [(s,) for s in SECONDS]),
    "clean_text": (cleaning.clean_text, [(t,) for t in CLEAN_TEXTS]),
    "natural_sort_key": (cleaning.natural_sort_key, [(n,) for n in SORT_KEY_NAMES]),
    "natural_sort_order": (
        lambda names: sorted(names, key=cleaning.natural_sort_rank_key),
        [(PART_NAMES,)],
    ),
    "remove_ssml_tags_keep_words": (
        cleaning.remove_ssml_tags_keep_words, [(t,) for t in TAG_TEXTS],
    ),
    "count_words": (count_words_py, [(t,) for t in COUNT_TEXTS]),
    "title_file": (
        lambda base, part: [
            cleaning.title_file_name(base, part), cleaning.title_file_content(),
        ],
        [TITLE_CASE],
    ),
}


def _json(value):
    # the JSON round trip turns tuples into lists, as in the frozen file
    return json.loads(json.dumps(value))


@pytest.mark.parametrize("name", list(_FROZEN))
def test_matches_frozen_reference(name):
    fn, args = _FROZEN[name]
    cases = frozen_reference(name, "function_parity")
    # the frozen inputs are exactly the live tests' inputs
    assert [a for a, _ in cases] == _json(args)
    for a, want in cases:
        assert _json(fn(*a)) == want, a
