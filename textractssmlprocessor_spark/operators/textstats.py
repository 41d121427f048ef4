"""Text analysis operators for large-scale training-data pipelines.

All hot-path expressions are native ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python in the per-row path. Word-count semantics
mirror the reference validator (reference ssml_validator.py:95-98).

Operators:
- word/token counting (whitespace + BPE-ish regex token classes)
- language ID (stopword-hit heuristic over a fixed per-language lexicon)
- quality scoring (length / punctuation / stopword / alpha ratios)
- document fingerprinting (md5 of whitespace-normalized text — stable across
  engines, usable as an exact-dedup key)
- cost estimation (reference utils.py:441-478 linear models)
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Column-layer word pattern, ENGINE-PORTABLE (no \b): Java's \b is
# Unicode-aware while its \w is ASCII, so '\b[\w-]+\b' diverges from
# RE2 (ASCII \b) next to non-ASCII letters. This boundary-free form —
# word-char span with interior hyphens/underscores — yields the IDENTICAL
# match set to the ASCII-\b reading in both engines (one match per
# [\w-]+ run containing a word char, trimmed to its word-char ends).
# Reference parity (Python re, Unicode \w) lives in _WORD_PY below.
WORD_RE = r"[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?"

# ENGINE-PORTABLE whitespace class. Java's ASCII \s is [ \t\n\x0b\f\r]
# but RE2's \s OMITS \x0b (vertical tab) — so every mirrored tokenizer /
# normalizer that wrote '\s' in both engines silently diverged on VT-
# bearing crawl text (caught by tools/fuzz_contract.py seed 17). The
# escape spellings below parse identically in Java, RE2, and Python re,
# so BOTH engines take their pattern from this ONE constant; never write
# a bare \s in an oracle-mirrored pattern again.
WS_ESC = r" \t\n\x0b\f\r"
WS_CLASS = "[" + WS_ESC + "]"
WS_PLUS = WS_CLASS + "+"

# PRE-tokenizer (GPT-2-style match classes): letter runs, digit runs, or
# single non-space symbols — identical semantics in Java regex (Spark)
# and RE2 (DuckDB oracle). This is the split BEFORE any BPE merge; see
# count_tokens_bpe for the real merges-table count.
PRETOK_RE = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_ESC}]"
BPE_TOKEN_RE = PRETOK_RE  # historical alias (pre-rename callers)

# ENGINE-PORTABLE lowercase. Java's lower() applies the full Unicode
# SpecialCasing map — U+0130 'İ' -> 'i'+U+0307 (combining dot) and
# word-final capital sigma -> U+03C2 'ς' — while DuckDB/utf8proc applies
# the simple per-codepoint map (İ -> 'i', every Σ -> 'σ'), so ANY
# oracle-mirrored lower() over payload text diverges on Turkish/Greek
# crawl pages (fuzz seed 21 broke nine queries' fingerprints and
# shingles at once). Pre-substituting exactly the two SpecialCasing
# lowercase entries (İ and Σ) with their SIMPLE-map targets makes
# Java's remaining lower() equal the simple map on every input — i.e.
# ``fold_lower(col) == DuckDB lower(col)`` BY CONSTRUCTION, so oracle
# SQL may spell either ``lower(x)`` or the explicit
# ``lower(translate(x, chr(304)||chr(931), 'i'||chr(963)))``; never
# write a bare F.lower over oracle-compared payload text on the SPARK
# side again — use fold_lower.
CASEFOLD_SRC = "İΣ"  # İ  Σ   (the full-vs-simple lowercase divergents)
CASEFOLD_DST = "iσ"      # i  σ   (their Unicode SIMPLE lowercase targets)


def fold_lower(col: Column) -> Column:
    """Case-fold-portable lowercase: equals DuckDB/utf8proc's simple
    per-codepoint lower() for ANY input (see CASEFOLD_SRC)."""
    return F.lower(F.translate(col, CASEFOLD_SRC, CASEFOLD_DST))


# ENGINE-PORTABLE word membership (no \b): Java's \b is Unicode-aware
# (combining marks and astral letters are word chars) while RE2's is
# ASCII, so '\bthe\b' three-way-diverges on Zalgo/CJK-adjacent text
# (fuzz seed 21). Spell word membership as maximal ASCII word RUNS —
# split on ASCII non-word, compare whole tokens — which equals the
# ASCII-\b reading exactly on ASCII neighborhoods and is deterministic
# everywhere else.
ASCII_NONWORD_PLUS = "[^A-Za-z0-9_]+"


def ascii_word_runs(col: Column) -> Column:
    """Lowered (fold_lower) maximal ASCII word runs of a text column."""
    return F.filter(
        F.split(fold_lower(col), ASCII_NONWORD_PLUS, -1), lambda w: w != ""
    )


_WORD_PY = re.compile(r"\b[\w-]+\b")


def count_words_py(text: str) -> int:
    """Pure-Python parity with reference ssml_validator.py:95-98."""
    return len(_WORD_PY.findall(text))


def count_words(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(WORD_RE), F.lit(0)))


def count_tokens_pretok(col: Column) -> Column:
    """PRE-tokenizer match count (letter runs / digit runs / single
    symbols) — a fast native LOWER BOUND proxy for BPE token counts, NOT
    a merges-table BPE (every alpha word counts 1 regardless of how many
    pieces a real tokenizer would split it into, so pretok <= BPE always).
    Shard budgets sized from this undercount long-word-heavy corpora; use
    the real ``count_tokens_bpe`` (distinct-word merges application) where
    the budget must match a trained tokenizer."""
    return F.size(F.regexp_extract_all(col, F.lit(PRETOK_RE), F.lit(0)))


# pre-rename alias: the honest name is count_tokens_pretok (this was never
# a BPE — it counts pre-tokenizer matches)
count_tokens_bpe_approx = count_tokens_pretok


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_vocab_words: int = 50000,
) -> list[tuple[str, str]]:
    """Deterministic in-corpus BPE merge training (Sennrich et al. 2016):
    the corpus reduces DISTRIBUTED to a (word, count) frequency table
    (one shuffle, map-side partials), the top ``max_vocab_words`` rows
    come to the driver (BOUNDED — the kmeans-centroid collect pattern;
    word frequency is Zipfian, so a 50k head covers the mass), and the
    classic merge loop runs driver-side on that table. Ties break by
    (count desc, pair lexical) so the merges list is reproducible across
    runs and cluster sizes. Returns [(left, right)] in merge order —
    kilobytes, broadcastable."""
    rows = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+"), F.lit(0))
            ).alias("w")
        )
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(max_vocab_words)
        .collect()
    )
    # word -> symbol tuple (char-level start, </w> marker closes the word
    # so end-of-word pieces differ from mid-word pieces, per the paper)
    vocab = {tuple(r["w"]) + ("</w>",): r["c"] for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        nv: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def bpe_pieces(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """BPE pieces for one lowercased alpha word under a trained merges
    table: greedy lowest-rank-first merging (the standard apply
    algorithm), char-level + ``</w>`` start symbols. A bare trailing
    ``</w>`` (nothing merged into it) is dropped — the marker is part of
    the last piece, never a token of its own."""
    pieces = list(word) + ["</w>"]
    while len(pieces) > 1:
        best_rank, best_pair = None, None
        for i in range(len(pieces) - 1):
            r = ranks.get((pieces[i], pieces[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (pieces[i], pieces[i + 1])
        if best_pair is None:
            break
        joined = best_pair[0] + best_pair[1]
        out, i = [], 0
        while i < len(pieces):
            if i + 1 < len(pieces) and (pieces[i], pieces[i + 1]) == best_pair:
                out.append(joined)
                i += 2
            else:
                out.append(pieces[i])
                i += 1
        pieces = out
    if pieces and pieces[-1] == "</w>":
        pieces = pieces[:-1]
    return pieces


def bpe_piece_count(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Number of BPE pieces for one lowercased alpha word (see
    ``bpe_pieces``)."""
    return len(bpe_pieces(word, ranks))


def count_tokens_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "n_tokens_bpe",
) -> DataFrame:
    """REAL merges-table BPE token count -> (id, out_col).

    Scale shape: BPE(word) is a pure function of the word, so the Python
    merge application runs over the DISTINCT lowercased word table only
    (vocabulary-sized — Heaps' law puts that at ~10^6-10^7 types even at
    100 TB, against 10^13+ running words), via one Arrow-batched pandas
    UDF. Per-document counts are then all-native: explode -> join on word
    (the piece-count side is vocabulary-sized; AQE broadcasts it when it
    fits) -> per-doc sum, plus a map-side regex count for the non-alpha
    pretokens (digit runs / symbols count 1 piece each, matching the
    GPT-2-style pre-tokenizer split in ``PRETOK_RE``). The merges table
    itself is kilobytes and ships inside the UDF closure."""
    from pyspark.sql.functions import pandas_udf

    ranks = {p: i for i, p in enumerate(merges)}

    @pandas_udf("int")
    def _pieces(s):
        return s.map(lambda w: bpe_piece_count(w, ranks))

    text = F.coalesce(F.col(text_col), F.lit(""))  # NULL text -> 0 tokens
    nonalpha = df.select(
        F.col(id_col).alias("id"),
        F.size(
            F.regexp_extract_all(text, F.lit(rf"[0-9]+|[^A-Za-z0-9{WS_ESC}]"), F.lit(0))
        ).cast("bigint").alias("_n_other"),
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(text, F.lit("[A-Za-z]+"), F.lit(0))
        ).alias("w"),
    ).select("id", F.lower("w").alias("w"))
    vocab_pieces = (
        words.select("w").distinct().withColumn("_p", _pieces(F.col("w")))
    )
    alpha = (
        words.join(vocab_pieces, "w")
        .groupBy("id")
        .agg(F.sum("_p").cast("bigint").alias("_n_alpha"))
    )
    # nonalpha already carries exactly one row per input row — joining a
    # bare ids projection back in was a redundant extra scan+shuffle (and
    # would AMPLIFY rows under duplicate ids)
    return (
        nonalpha.join(alpha, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("_n_alpha"), F.lit(0)) + F.col("_n_other"))
            .cast("bigint")
            .alias(out_col),
        )
    )


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic piece -> id table for a trained merges list: ids
    0-25 are the base chars a-z, 26 is the bare ``</w>`` marker, then one
    id per merge product in merge order (first occurrence wins when two
    merges produce the same string through different splits). Kilobytes,
    ships inside UDF closures."""
    vocab: dict[str, int] = {c: i for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")}
    vocab["</w>"] = 26
    for left, right in merges:
        piece = left + right
        if piece not in vocab:
            vocab[piece] = len(vocab)
    return vocab


def tokenize_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "token_ids",
    fallback_buckets: int = 1 << 16,
) -> DataFrame:
    """Text -> trainer-ready token-id arrays: (id, out_col array<int>).

    The order-preserving companion of ``count_tokens_bpe`` (which only
    counts): the text is scanned with the same PRETOK_RE pre-tokenizer,
    alpha runs are lowercased and BPE-merged to pieces mapped through
    ``bpe_vocab``, and non-alpha pre-tokens (digit runs / single symbols)
    take hash-bucket fallback ids in [len(vocab), len(vocab) +
    fallback_buckets) — md5-keyed, so deterministic across runs and
    cluster sizes (the HashingVectorizer trade: no fallback decode; real
    deployments swap in byte-fallback ids on the same seam). Invariant
    tested in tests/test_tokenize.py: size(token_ids) equals
    count_tokens_bpe's count for every document.

    Scale shape: pure map-side — ONE Arrow-batched pandas UDF whose
    closure carries the kilobyte ranks+vocab tables; no shuffle, no
    distinct-word join (token ORDER matters here, unlike the count path).
    Per-batch word->ids memoization makes the per-word BPE cost
    vocabulary-bounded within each Arrow batch (Zipfian hit rate)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    ranks = {p: i for i, p in enumerate(merges)}
    vocab = bpe_vocab(merges)
    n_vocab = len(vocab)
    # re.ASCII: Python's \s is Unicode-aware but Java's (Spark) and RE2's
    # (DuckDB) are ASCII — without the flag, NBSP/U+2028-class codepoints
    # would vanish here while count_tokens_bpe counts them as symbol
    # pre-tokens, silently breaking the length invariant on web text
    pretok = re.compile(PRETOK_RE, re.ASCII)
    alpha = re.compile(r"[A-Za-z]+")

    def _encode_factory():
        cache: dict[str, list[int]] = {}

        def encode(text):
            if text is None:
                return []
            out: list[int] = []
            for tok in pretok.findall(text):
                if alpha.fullmatch(tok):
                    w = tok.lower()
                    ids = cache.get(w)
                    if ids is None:
                        ids = [vocab[p] for p in bpe_pieces(w, ranks)]
                        cache[w] = ids
                    out.extend(ids)
                else:
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    out.append(n_vocab + int(h[:8], 16) % fallback_buckets)
            return out

        return encode

    @pandas_udf("array<int>")
    def _tokenize(s):
        return s.map(_encode_factory())

    return df.select(
        F.col(id_col).alias("id"), _tokenize(F.col(text_col)).alias(out_col)
    )


# --- language ID heuristic ----------------------------------------------------
# Tiny fixed stopword lexicons; the language with the most hits wins. At
# 100 TB this is a pure map-side scan — no shuffle, no UDF.

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "mit", "auf"],
    "fr": ["le", "les", "des", "une", "est", "dans", "pour", "qui"],
    "la": ["et", "in", "est", "non", "cum", "ad", "quod", "sed"],
}


def stopword_hits(col: Column, lang: str) -> Column:
    # word-RUN membership, not '\b...\b': Java's Unicode \b vs RE2's
    # ASCII \b diverge next to combining marks / non-ASCII letters
    # (fuzz seed 21) — see ASCII_NONWORD_PLUS
    stops = STOPWORDS[lang]
    return F.size(
        F.filter(ascii_word_runs(col), lambda w: w.isin(*stops))
    )


def lang_id(col: Column) -> Column:
    """argmax over per-language stopword hits; deterministic tie-break by
    language code order. Encoded as min over ``zeropad(100000-hits)||lang``
    string keys — a form any SQL engine reproduces exactly (the DuckDB
    oracle uses the identical expression)."""
    keys = [
        F.concat(
            # greatest(0,...): past 100k hits the subtraction goes negative
            # and the string min would pick the WRONG language
            F.lpad(
                F.greatest(
                    F.lit(0), F.lit(100000) - stopword_hits(col, lang)
                ).cast("string"),
                6,
                "0",
            ),
            F.lit(lang),
        )
        for lang in sorted(STOPWORDS)
    ]
    return F.substring(F.array_min(F.array(*keys)), 7, 2)


# --- quality scoring ----------------------------------------------------------


def quality_columns(col: Column) -> dict[str, Column]:
    """Ratio features used by web-corpus quality filters."""
    n_chars = F.length(col)
    words = count_words(col)
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))
    stop_en = stopword_hits(col, "en")
    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(None))
    nzw = F.when(words > 0, words.cast("double")).otherwise(F.lit(None))
    return {
        "n_chars": n_chars,
        "n_words": words,
        "alpha_ratio": (alpha / nz),
        "punct_ratio": (punct / nz),
        "stopword_ratio": (stop_en / nzw),
        "mean_word_len": (alpha / nzw),
    }


# --- Gopher-style document quality rules (Rae et al. 2021, public) -----------

# Non-ASCII signal characters built from codepoints (the SCRIPT_RANGES /
# MOJIBAKE_SAMPLE convention): both engines' oracle-checked literals derive
# from THESE constants — never hand-paste the raw characters on both sides.
ELLIPSIS_CHAR = chr(0x2026)  # horizontal ellipsis
BULLET_CHAR = chr(0x2022)  # bullet
GOPHER_BULLETS = (BULLET_CHAR, "-", "*")
GOPHER_SYMBOL_RE = r"#|\.\.\.|" + ELLIPSIS_CHAR


def gopher_columns(col: Column) -> dict[str, Column]:
    """The published Gopher quality-filter signals as native expressions
    (map-side only, no UDF, no shuffle): word-count bounds, mean word
    length window, symbol-to-word ratio, bullet-start and ellipsis-end
    line fractions, alphabetic-word fraction, distinct-stopword presence.
    `gopher_pass` is the conjunction with the paper's thresholds."""
    # filter the split: Spark trim strips SPACES only, so text starting
    # with \n/\t yields a phantom '' word that deflates alpha_word_frac
    words = F.filter(F.split(F.trim(col), WS_PLUS), lambda w: w != "")
    n_words = F.size(F.regexp_extract_all(col, F.lit(WORD_RE), F.lit(0)))
    alpha_chars = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    nzw = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(None))
    mean_word_len = alpha_chars / nzw
    symbols = F.size(
        F.regexp_extract_all(col, F.lit(GOPHER_SYMBOL_RE), F.lit(0))
    )
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    nzl = F.when(n_lines > 0, n_lines.cast("double")).otherwise(F.lit(None))
    bullet_starts = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).substr(1, 1).isin(*GOPHER_BULLETS),
        )
    )
    ellipsis_ends = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("...")
            | F.trim(l).endswith(ELLIPSIS_CHAR),
        )
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    nz_all_words = F.when(F.size(words) > 0, F.size(words).cast("double")).otherwise(
        F.lit(None)
    )
    # word-RUN presence, not rlike('\b...\b'): engine-portable (seed 21).
    # ONE array_intersect instead of 8 per-word array_contains: higher-
    # order expressions are not common-subexpression-eliminated, so a
    # per-word form re-tokenizes the document 8x; intersect-with-the-
    # lexicon tokenizes once (set semantics = count of distinct stopwords
    # present, exactly the old presence sum). coalesce: NULL text must
    # read 0 like the oracle's CASE ... ELSE 0 (degenerate-input rule).
    stop_present = F.coalesce(
        F.size(
            F.array_intersect(
                ascii_word_runs(col),
                F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
            )
        ),
        F.lit(0),
    )
    out = {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.round(mean_word_len, 6),
        "symbol_word_ratio": F.round(symbols / nzw, 6),
        "bullet_line_frac": F.round(bullet_starts / nzl, 6),
        "ellipsis_line_frac": F.round(ellipsis_ends / nzl, 6),
        "alpha_word_frac": F.round(alpha_words / nz_all_words, 6),
        "n_stopwords_present": stop_present.cast("bigint"),
    }
    out["gopher_pass"] = (
        (out["n_words"] >= 50)
        & (out["n_words"] <= 100000)
        & (out["mean_word_len"] >= 3)
        & (out["mean_word_len"] <= 10)
        & (out["symbol_word_ratio"] <= 0.1)
        & (out["bullet_line_frac"] <= 0.9)
        & (out["ellipsis_line_frac"] <= 0.3)
        & (out["alpha_word_frac"] >= 0.8)
        & (out["n_stopwords_present"] >= 2)
    )
    return out


# --- readability (Flesch reading ease / Flesch-Kincaid grade) ----------------

# Engine-portable counting rules, shared verbatim with the DuckDB oracle:
# words are ASCII-alpha runs (classic implementations count whitespace
# tokens; alpha runs are what the syllable heuristic is defined over and
# read identically in Java and RE2), sentences are [.!?]+ runs clamped to
# >= 1, and a word's syllables are its [aeiouy]+ vowel-group runs clamped
# to >= 1. Every vowel is a letter, so a vowel run never spans two alpha
# words — total runs over the whole lowercased text equals the per-word
# sum, and the >= 1 clamp is the count of vowel-free words. That keeps
# the whole computation three regexp_extract_all passes: no per-word
# explode, no UDF.
READ_WORD_RE = "[A-Za-z]+"
READ_VOWEL_RE = "[aeiouy]+"
READ_SENT_RE = "[.!?]+"


def readability_columns(col: Column) -> dict[str, Column]:
    """Flesch reading ease + Flesch-Kincaid grade level as named native
    columns (rd_n_words/rd_n_sentences/rd_n_syllables bigint counts,
    rd_flesch/rd_fk_grade rounded to 6; NULL metrics on word-free text).
    A standard corpus quality signal (simple-wikipedia-style routing,
    child-content detection); map-side only, composes with
    `gopher_columns` in one projection."""
    t = F.coalesce(col, F.lit(""))
    words = F.regexp_extract_all(t, F.lit(READ_WORD_RE), F.lit(0))
    n_words = F.size(words)
    # fold_lower, not lower: Java's İ -> 'i'+combining-dot SPLITS a vowel
    # run that DuckDB's İ -> 'i' keeps joined (fuzz seed 21 class)
    vowel_runs = F.size(
        F.regexp_extract_all(fold_lower(t), F.lit(READ_VOWEL_RE), F.lit(0))
    )
    no_vowel = F.size(
        F.filter(words, lambda w: ~F.lower(w).rlike(READ_VOWEL_RE))
    )
    syllables = vowel_runs + no_vowel
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(READ_SENT_RE), F.lit(0))),
        F.lit(1),
    )
    wz = F.when(n_words > 0, n_words.cast("double"))
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = syllables.cast("double") / wz
    return {
        "rd_n_words": n_words.cast("bigint"),
        "rd_n_sentences": n_sent.cast("bigint"),
        "rd_n_syllables": syllables.cast("bigint"),
        "rd_flesch": F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ),
        "rd_fk_grade": F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ),
    }


# --- repetition statistics (dup-line / dup-paragraph / top-bigram) -----------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals used by Gopher/Dolma-class filters:
    fraction of duplicated (non-empty, trimmed) lines and paragraphs —
    pure array expressions, map-side — plus the fraction of all word
    bigrams taken by the most frequent bigram. The bigram mode is computed
    by explode -> (id, bigram) count -> per-id max/sum (two shuffles on
    high-cardinality keys, map-side partials) — NOT a per-row array
    nested-loop, which re-evaluates the outer array per element (the
    documented higher-order-function O(n^2) trap)."""
    col = F.col(text_col)

    def dup_frac(parts: Column) -> Column:
        kept = F.filter(
            F.transform(parts, lambda p: F.trim(p)), lambda p: p != ""
        )
        n = F.size(kept)
        return F.when(
            n > 0,
            F.round((n - F.size(F.array_distinct(kept))) / n.cast("double"), 6),
        )

    # words materializes as its own projection FIRST: the bigram lambda then
    # references a bound attribute (evaluated once per row), not the split
    # expression (which Spark would re-evaluate per element — the same trap)
    base = df.select(
        F.col(id_col).alias("id"),
        dup_frac(F.split(col, "\n")).alias("dup_line_frac"),
        dup_frac(F.split(col, r"\n{2,}")).alias("dup_para_frac"),
        F.filter(
            F.split(F.trim(fold_lower(col)), WS_PLUS), lambda w: w != ""
        ).alias("_ws"),
    ).select(
        "id",
        "dup_line_frac",
        "dup_para_frac",
        F.when(
            F.size("_ws") >= 2,  # sequence(1,0) would run DESCENDING
            F.transform(
                F.sequence(F.lit(1), F.size("_ws") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("bigrams"),
    )
    counts = (
        base.select("id", F.explode_outer("bigrams").alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.max(F.when(F.col("bg").isNotNull(), F.col("c"))).alias("top"),
            F.sum(F.when(F.col("bg").isNotNull(), F.col("c")).otherwise(F.lit(0))).alias("total"),
        )
    )
    # char-distribution Shannon entropy (nats): H = ln N - (1/N) sum c*ln c
    # over exact integer per-char counts — the classic gibberish/keyboard-
    # mash detector (low H = repeated chars, high H near ln|alphabet| =
    # random bytes). (?s). tokenizes IDENTICALLY in Java regex and RE2, so
    # the oracle replays the same chars. One explode + one (id, ch) count
    # with map-side partials (reduces to <= alphabet rows per doc).
    ent = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.regexp_extract_all(col, F.lit(r"(?s)."), F.lit(0))
            ).alias("ch"),
        )
        .groupBy("id", "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy("id")
        .agg(
            F.round(
                F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
                6,
            ).alias("char_entropy")
        )
    )
    return (
        base.select("id", "dup_line_frac", "dup_para_frac")
        .join(counts, "id")
        .join(ent, "id", "left")
        .select(
            "id",
            "dup_line_frac",
            "dup_para_frac",
            F.when(
                F.col("total") > 0,
                F.round(F.col("top") / F.col("total").cast("double"), 6),
            ).alias("top_bigram_frac"),
            F.col("total").cast("bigint").alias("n_bigrams"),
            "char_entropy",
        )
    )


# --- fingerprinting -------------------------------------------------------------


def normalize_for_fingerprint(col: Column) -> Column:
    return F.regexp_replace(fold_lower(F.trim(col)), WS_PLUS, " ")


def fingerprint(col: Column) -> Column:
    """md5 hex of normalized text: engine-portable exact-dedup key."""
    return F.md5(normalize_for_fingerprint(col))


# --- corpus heavy hitters -------------------------------------------------------


def top_ngrams(
    df: DataFrame,
    n: int = 1,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k most frequent token n-grams: (gram, n_occurrences),
    count descending, ties broken by ascending gram — a total order, so
    the result is deterministic and engine-portable. The vocabulary/
    boilerplate-phrase census every corpus audit starts with.

    Tokenization is the LM convention (lm.tokens_column — lowercase,
    [^a-z0-9]+ delimiters, RE2/Java-identical). Grams join tokens with a
    single space.

    Scale shape: one explode + one (gram) count with map-side partials
    (Zipf-head grams tree-reduce), then orderBy().limit(k) =
    TakeOrderedAndProject — Spark's distributed two-phase top-k (each
    partition keeps k, the driver merges P*k rows). No window, no
    full-corpus sort. For n >= 2 the gram array is built from a
    MATERIALIZED token column with attribute-bound lambdas
    (repetition_stats' discipline — never re-evaluate the tokenizer
    per element)."""
    from textractssmlprocessor_spark.operators.lm import tokens_column

    toks = df.select(tokens_column(F.col(text_col)).alias("toks"))
    if n <= 1:
        grams = toks.select(F.explode("toks").alias("gram"))
    else:
        c = F.col("toks")
        gram_arr = F.when(
            F.size(c) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(c) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(c, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = toks.select(F.explode(gram_arr).alias("gram"))
    counted = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    return counted.orderBy(F.col("n_occurrences").desc(), F.col("gram")).limit(k)


# --- Unicode script detection ----------------------------------------------
# Script classes as explicit codepoint ranges, shared between the Spark
# pattern and the DuckDB oracle pattern so both engines count the EXACT
# same characters (Java regex spells a range \uXXXX, RE2 spells it
# \x{XXXX} — building both from these integer pairs removes the dialect
# risk). Ranges are the dominant blocks per script, not exhaustive
# Unicode-property sets — documented approximation, same spirit as the
# stopword lang_id.

SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "latin": [(0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)],
    "cyrillic": [(0x400, 0x4FF)],
    "greek": [(0x370, 0x3FF)],
    "cjk": [(0x3040, 0x30FF), (0x4E00, 0x9FFF), (0xAC00, 0xD7AF)],
    "arabic": [(0x600, 0x6FF)],
}

# deterministic non-ASCII samples for contract/test seeding (module
# constants per the CLAUDE.md shared-literal convention; the oracle side
# re-emits them with _sql_str)
SCRIPT_SAMPLES = {
    "cyrillic": "Привет мир",
    "cjk": "你好世界 こんにちは",
    "arabic": "مرحبا بالعالم",
    "greek": "Γεια σου",
}


def script_class(script: str) -> str:
    """Character-class body (raw characters, no escapes) for a script —
    identical bytes in a Java regex and an RE2 regex because the range
    endpoints are embedded as literal characters."""
    return "".join(
        chr(lo) + "-" + chr(hi) for lo, hi in SCRIPT_RANGES[script]
    )


def script_columns(col: Column) -> dict[str, Column]:
    """Per-script character fractions + dominant script: the writing-
    system signal multilingual curation routes on (FineWeb-2/MADLAD
    bucket by script before language). Fractions are per-script char
    count / total char count, rounded to 6; ``script_pred`` is the
    argmax with the lang_id zeropad-min tie-break (alphabetical on
    ties), or NULL for empty text. Pure map-side regexp_replace counts —
    no shuffle, no Python."""
    n = F.length(col)
    nz = F.when(n > 0, n.cast("double"))  # NULL divisor on empty text (totality under ANSI)
    fracs: dict[str, Column] = {}
    counts: dict[str, Column] = {}
    for script in sorted(SCRIPT_RANGES):
        cls = script_class(script)
        cnt = F.length(F.regexp_replace(col, f"[^{cls}]", ""))
        counts[script] = cnt
        fracs[f"{script}_frac"] = F.round(cnt / nz, 6)
    keys = [
        F.concat(
            F.lpad(
                F.greatest(F.lit(0), F.lit(10000000) - counts[s]).cast(
                    "string"
                ),
                8,
                "0",
            ),
            F.lit(s),
        )
        for s in sorted(SCRIPT_RANGES)
    ]
    fracs["script_pred"] = F.when(
        n > 0, F.substring(F.array_min(F.array(*keys)), 9, 16)
    )
    return fracs


# --- compression-ratio quality signal -----------------------------------------


def with_compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "compression_ratio"
) -> DataFrame:
    """DEFLATE compression ratio (compressed bytes / raw UTF-8 bytes) —
    the RefinedWeb/Gopher-adjacent redundancy signal: templated or
    repeated text compresses far below ~0.4, random gibberish sits near
    1.0. Empty/NULL text gets NULL.

    zlib level 6 with a FIXED strategy, so the value is deterministic for
    a given zlib version (documented caveat: not oracle-checked — DuckDB
    has no DEFLATE — so this column is pytest-locked instead, the
    repo's convention for engine-unportable values). Arrow-batched
    pandas UDF — the Python cost is one C call per document."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s):
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return round(len(zlib.compress(b, 6)) / len(b), 6)

        return s.map(one)

    return df.withColumn(out_col, _ratio(F.col(text_col)))


# --- full Gopher repetition battery (Rae et al. 2021, Table A1) --------------
# repetition_stats above covers dup-line/para COUNT fractions + the top-
# bigram share; the paper's full battery is CHARACTER fractions:
#   - fraction of characters in duplicated lines / paragraphs (each
#     occurrence of a text that appears >1 time counts),
#   - fraction of characters in the single most frequent {2,3,4}-gram,
#   - fraction of characters covered by duplicated {5..10}-grams
#     (overlap-aware: a character under several repeated grams counts once).
# Definitions pinned for cross-engine replay: words = \s+ split of the
# trimmed lowercased text; total_chars = sum of word lengths (separators
# excluded); an n-gram's chars = sum of its words' lengths; positions
# covered by a duplicated n-gram occurrence at word index i are [i, i+n).
# All fractions round to 6; docs with no words keep NULL fractions.
#
# Scale shape: no per-row array nested loops anywhere (the dup-line pass
# is explode -> (id, line) count -> per-id char sums, NOT the O(lines^2)
# array-lambda form — same reasoning as the drop_repeated_lines_within
# cap, but here the aggregation form costs nothing). Gram STRINGS are
# built only for the top {2,3,4} levels (their output needs char length
# + tie-break text); the dup {5..10} levels hash each word once and form
# 8-byte keys from window leads of the word hashes — no string concat,
# no 6-level text explode. Duplicate coverage re-joins narrow
# (id, n, key) dup keys to occurrences and explodes positions before a
# distinct. Every shuffle keys on (id, ...): high-cardinality, map-side
# partials, nothing corpus-wide; the only window partitions by doc id.


def _dup_char_cols(
    df: DataFrame, parts: Column, out: str
) -> DataFrame:
    """(id, <out>): per-doc fraction of characters sitting in repeated
    (trimmed, non-empty) parts — aggregation form, no array nested loop."""
    kept = F.filter(F.transform(parts, lambda p: F.trim(p)), lambda p: p != "")
    per = (
        df.select("id", F.explode_outer(kept).alias("p"))
        .groupBy("id", "p")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("p").isNotNull(), F.col("c") * F.length("p"))
            ).alias("tot"),
            F.sum(
                F.when(
                    F.col("p").isNotNull() & (F.col("c") > 1),
                    F.col("c") * F.length("p"),
                )
            ).alias("dup"),
        )
    )
    return per.select(
        "id",
        F.when(
            F.col("tot") > 0,
            F.round(
                F.coalesce(F.col("dup"), F.lit(0)) / F.col("tot").cast("double"),
                6,
            ),
        ).alias(out),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """(id, dup_line_char_frac, dup_para_char_frac,
    top_{n}_gram_char_frac..., dup_{n}_gram_char_frac...)."""
    col = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        col.alias("_t"),
        F.filter(
            F.split(F.trim(fold_lower(col)), WS_PLUS), lambda w: w != ""
        ).alias("_ws"),
    )
    lines = _dup_char_cols(
        base, F.split(F.col("_t"), "\n"), "dup_line_char_frac"
    )
    paras = _dup_char_cols(
        base, F.split(F.col("_t"), r"\n{2,}"), "dup_para_char_frac"
    )
    words = base.select("id", F.posexplode_outer("_ws").alias("pos", "w"))
    totals = words.groupBy("id").agg(
        F.sum(F.coalesce(F.length("w"), F.lit(0)))
        .cast("double")
        .alias("total_chars")
    )

    def _gram_lambda(n: int):
        # factory closure, NOT `lambda i, n=n`: F.transform inspects the
        # lambda's arity and a second parameter (even defaulted) makes it
        # pass (element, index) — silently binding the slice length to
        # the element index
        return lambda i: F.struct(
            (i - 1).alias("i"),
            F.concat_ws(" ", F.slice(F.col("_ws"), i, n)).alias("g"),
        )

    occs = (
        base.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("n"),
                            F.when(
                                F.size("_ws") >= n,
                                F.transform(
                                    F.sequence(
                                        F.lit(1), F.size("_ws") - (n - 1)
                                    ),
                                    _gram_lambda(n),
                                ),
                            )
                            .otherwise(
                                F.array().cast(
                                    "array<struct<i:int,g:string>>"
                                )
                            )
                            .alias("grams"),
                        )
                        for n in top_ns
                    ]
                )
            ).alias("lvl"),
        )
        .select("id", F.col("lvl.n").alias("n"), F.explode("lvl.grams").alias("gr"))
        .select("id", "n", F.col("gr.i").alias("i"), F.col("gr.g").alias("g"))
    )
    # Only the top levels (n=2..4) keep gram TEXT — their output needs the
    # char length and a deterministic tie-break — so only they pay for
    # string construction, and the explode above materializes 3 levels,
    # not 9.
    top_counts = occs.groupBy("id", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Dup levels (n=5..10) never build gram strings: each word hashes
    # ONCE, a per-document window supplies the next max(dup_ns)-1 word
    # hashes, and each position's n-gram key is xxhash64 over its n word
    # hashes — 8-byte keys end to end, no per-level string concat, no
    # 6-level explode of word text (the round-4 A/B found string
    # construction + the 9-level explode dominating this query). The
    # window partitions by doc id: bounded by document length, the same
    # per-doc assumption as the ocr line windows — never corpus-global.
    # Key equality still matches exactly the same grams; distinct grams
    # collide with ~(grams^2)/2^65 probability, and the key never reaches
    # an output value.
    max_n = max(dup_ns)
    wwin = Window.partitionBy("id").orderBy("pos")
    wh = words.filter(F.col("w").isNotNull()).select(
        "id", "pos", F.length("w").alias("wl"), F.xxhash64("w").alias("h0")
    )
    leads = wh.select(
        "id",
        "pos",
        "wl",
        "h0",
        *[F.lead("h0", k).over(wwin).alias(f"h{k}") for k in range(1, max_n)],
    )
    key_structs = F.array(
        *[
            F.when(
                F.col(f"h{n - 1}").isNotNull(),
                F.struct(
                    F.lit(n).alias("n"),
                    F.xxhash64(*[F.col(f"h{k}") for k in range(n)]).alias("gk"),
                ),
            )
            for n in dup_ns
        ]
    )
    dup_occs = (
        leads.select(
            "id", F.col("pos").alias("i"), F.explode(key_structs).alias("s")
        )
        .filter(F.col("s").isNotNull())
        .select("id", F.col("s.n").alias("n"), "i", F.col("s.gk").alias("gk"))
    )
    # top-{n}-gram chars: count * gram chars (minus the n-1 separators),
    # deterministic tie-break toward the lexicographically larger gram via
    # the max-struct trick
    top = (
        top_counts
        .groupBy("id", "n")
        .agg(F.max(F.struct(F.col("c"), F.col("g"))).alias("t"))
        .select(
            "id",
            "n",
            (F.col("t.c") * (F.length("t.g") - (F.col("n") - 1)))
            .cast("double")
            .alias("chars"),
        )
        .groupBy("id")
        .pivot("n", list(top_ns))
        .agg(F.first("chars"))
    )
    dup_keys = (
        dup_occs.groupBy("id", "n", "gk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("id", "n", "gk")
    )
    covered = (
        dup_occs.join(dup_keys, ["id", "n", "gk"])
        .select(
            "id",
            "n",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.col("n") - 1)
            ).alias("pos"),
        )
        .distinct()
        .join(wh.select("id", "pos", "wl"), ["id", "pos"])
        .groupBy("id", "n")
        .agg(F.sum("wl").cast("double").alias("chars"))
        .groupBy("id")
        .pivot("n", list(dup_ns))
        .agg(F.first("chars"))
    )
    out = (
        base.select("id")
        .join(lines, "id", "left")
        .join(paras, "id", "left")
        .join(totals, "id", "left")
        .join(
            top.select(
                "id", *[F.col(str(n)).alias(f"_t{n}") for n in top_ns]
            ),
            "id",
            "left",
        )
        .join(
            covered.select(
                "id", *[F.col(str(n)).alias(f"_d{n}") for n in dup_ns]
            ),
            "id",
            "left",
        )
    )
    def frac(src: str) -> Column:
        return F.when(
            F.col("total_chars") > 0,
            F.round(
                F.coalesce(F.col(src), F.lit(0.0)) / F.col("total_chars"), 6
            ),
        )

    return out.select(
        "id",
        "dup_line_char_frac",
        "dup_para_char_frac",
        *[frac(f"_t{n}").alias(f"top_{n}_gram_char_frac") for n in top_ns],
        *[frac(f"_d{n}").alias(f"dup_{n}_gram_char_frac") for n in dup_ns],
    )
