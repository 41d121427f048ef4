"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, size)``: it builds rows with
``random.Random`` seeded from a string (stable across interpreter runs) and
writes them with pyarrow into a fixed number of parquet files, so the same
seed gives byte-identical files. ``write_parquet`` returns the sha256 of
those bytes as the input digest. The package only ever reads these files.

Proportions (decoration classes, skew tail, charset slice, planted
duplicates) are fixed by row index, not drawn, so every seed loads the same
layers by the same amount and only the content changes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8  # parquet files per input table: enough scan tasks for 4-8 cores
WARC_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# Mirrors corpus.synthesize_pages' sentence rotation, plus lines that give
# functions.subs (abbreviations, Bible books, Roman numerals) work to do.
SENTENCES = [
    "The quick brown fox jumps over the lazy dog.",
    "Arma virumque cano Troiae qui primus ab oris.",
    "Data pipelines must scale without rewriting logic.",
    "He said that the chapter would end soon.",
    "Multi word sentences keep the chunker honest.",
    "Numbers like 42 and dates like 1066 appear here.",
    "A short one.",
    "Spark executes columnar batches over arrow buffers.",
    "See ch. 4 and pp. 12 of the notes, e.g. the second table.",
    "The reading from 1 Cor. 13 follows II Samuel in book III.",
    "Results vs. expectations are discussed ca. 1850, i.e. later.",
    "Smith et al. compare the two drafts, cf. vol. 2 of the set.",
]
LEGACY_SENTENCE = "Café naïve — “quoted” résumé £ text."

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
SPANS_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("start", pa.int32()),
            pa.field("end", pa.int32()),
            pa.field("kind", pa.string()),
        ]
    )
)
CHUNKS_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("chunk_number", pa.int32(), nullable=False),
        pa.field("extracted_text", pa.string()),
        pa.field("ssml", pa.string()),
        pa.field("spans", SPANS_TYPE),
    ]
)
MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("part_no", pa.int32(), nullable=False),
        pa.field("duration", pa.float64(), nullable=False),
    ]
)
SECONDS_PER_CHAR = 0.06  # narration pace of the audio manifest (as bench.py)


def _decorate(body: str, case: int, title_no: int) -> str:
    """The fixture case classes of corpus.synthesize_pages, by ``case``."""
    title = f"Section {title_no}"
    if case == 0:
        return (
            f"<h4>{title}</h4><p>{body}</p><em>{body[:120]}</em>"
            "<strong>Attribution</strong>"
        )
    if case == 1:
        return (
            f"<p>{body}</p><em>brief quote</em>"
            "<strong>dropped cite</strong><p>tail text.</p>"
        )
    if case == 2:
        return f"CHAPTER HEADING\n{body}\nTHE RUNNING HEAD\nfinal line."
    if case == 3:
        return f"intro [Note: drop [nested [deep]]] {body} outro [stray bracket]"
    if case == 4:
        return f"<p>Fish &amp; chips &#8217; {body}</p>"
    return body


def pages_rows(seed: int, n_pages: int, stream: str = "pages") -> list[tuple]:
    """Web pages ``(url, warc_ts, html, text, lang)``.

    - decoration class ``i % 8`` (0, 1, 4 are HTML bytes, the rest plain
      text), 24 sentences per page, as corpus.synthesize_pages;
    - 1% of pages (``i % 100 == 0``) are 64x longer and all on host 0;
    - a legacy-charset slice (``i % 64 == 1``, always an HTML class):
      cp1252 bytes, half of them declaring ``<meta charset=windows-1252>``
      and half relying on the utf-8 -> cp1252 sniff fallback.
    """
    rng = random.Random(f"{stream}:{seed}")
    rows = []
    for i in range(n_pages):
        skewed = i % 100 == 0
        legacy = i % 64 == 1
        reps = 24 * (64 if skewed else 1)
        picks = [rng.choice(SENTENCES) for _ in range(reps)]
        if legacy:
            picks[rng.randrange(reps)] = LEGACY_SENTENCE
        case = i % 8
        payload = _decorate(" ".join(picks), case, rng.randrange(97))
        host = 0 if skewed else 1 + rng.randrange(999)
        url = f"https://host-{host}.example.org/page/{seed}-{stream}-{i}"
        ts = WARC_EPOCH + dt.timedelta(seconds=rng.randrange(86400))
        lang = ("en", "la", "en", "de")[i % 4]
        if case in (0, 1, 4):
            if legacy:
                if i % 128 == 1:
                    payload = '<meta charset="windows-1252">' + payload
                html = payload.encode("cp1252")
            else:
                html = payload.encode("utf-8")
            rows.append((url, ts, html, None, lang))
        else:
            rows.append((url, ts, None, payload, lang))
    return rows


# Curate documents: sentences of seeded words from a fixed vocabulary that
# passes the Gopher and C4 rules (real stopwords, 3-10 letter words, one
# sentence per line), so the drops are the planted ones.
_STOP = ["the", "and", "of", "to", "in", "is", "that", "with"]
_SYLLABLES = [
    "ka", "lo", "mer", "tin", "sa", "ver", "po", "lan", "ri", "dor",
    "fe", "gal", "mi", "nor", "tu", "bel", "ze", "ran", "co", "vis",
]
VOCAB = sorted(
    {a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("", "s", "n")}
)


def _doc_text(rng: random.Random, n_sentences: int) -> str:
    lines = []
    for _ in range(n_sentences):
        words = []
        for k in range(rng.randrange(8, 15)):
            words.append(rng.choice(_STOP) if k % 3 == 1 else rng.choice(VOCAB))
        lines.append(" ".join(words).capitalize() + ".")
    return "\n".join(lines)


def docs_rows(seed: int, n_docs: int) -> tuple[list[tuple], dict[str, set[int]]]:
    """Curation documents ``(doc_id, url, text, lang)`` plus the ids of what
    was planted, by kind:

    - ``exact``: ``i % 20 == 1`` copies the text of document ``i - 1``;
    - ``near``: ``i % 20 == 2`` copies document ``i - 2`` with its last
      sentence replaced (word-5-gram Jaccard well above 0.8);
    - ``short``: ``i % 50 == 3`` has 3 sentences (Gopher: < 50 words);
    - ``lang``: ``i % 25 == 4`` is tagged ``de`` (outside the allowlist);
    - ``host``: ``i % 10 == 5`` lives on host 0 (10% of the corpus on one
      host, capped by ``max_per_host``).
    """
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    rows = []
    planted: dict[str, set[int]] = {k: set() for k in ("exact", "near", "short", "lang", "host")}
    for i in range(n_docs):
        if i % 20 == 1:
            text = texts[i - 1]
            planted["exact"].add(i)
        elif i % 20 == 2:
            lines = texts[i - 2].split("\n")
            text = "\n".join(lines[:-1] + [_doc_text(rng, 1)])
            planted["near"].add(i)
        elif i % 50 == 3:
            text = _doc_text(rng, 3)
            planted["short"].add(i)
        else:
            text = _doc_text(rng, rng.randrange(14, 22))
        texts.append(text)
        lang = "en" if i % 2 else "la"
        if i % 25 == 4:
            lang = "de"
            planted["lang"].add(i)
        host = 1 + rng.randrange(400)
        if i % 10 == 5:
            host = 0
            planted["host"].add(i)
        url = f"https://site-{host}.example.net/doc/{seed}-{i}"
        rows.append((i, url, text, lang))
    return rows, planted


def chunk_rows(pages: list[tuple]) -> tuple[list[tuple], list[tuple]]:
    """The chunk table and its audio-duration manifest, built in-process
    through the public functions chain (see reference.extract_page)."""
    from reference import extract_page

    chunks, manifest = [], []
    for url, _ts, html, text, _lang in pages:
        for n, (chunk, ssml, start, end) in enumerate(extract_page(html, text), 1):
            chunks.append((url, n, chunk, ssml, [{"start": start, "end": end, "kind": "chunk"}]))
            manifest.append((url, n, len(chunk) * SECONDS_PER_CHAR))
    return chunks, manifest


def write_parquet(rows: list[tuple], schema: pa.Schema, path: str) -> str:
    """Write ``rows`` as ``N_FILES`` contiguous parquet slices under ``path``
    and return the sha256 of the file bytes, in file order."""
    os.makedirs(path, exist_ok=True)
    columns = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, schema)], schema=schema
    )
    digest = hashlib.sha256()
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        name = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), name)
        with open(name, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()
