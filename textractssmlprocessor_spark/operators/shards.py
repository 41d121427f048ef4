"""Training-shard packing and corpus reporting.

``pack_shards`` assigns every document to a token-budgeted output shard —
the final step before a curated corpus ships to a trainer (shards of
~N tokens each, stable order). Packing is cumulative-token bucketing:
shard_id = floor(exclusive_running_token_sum / tokens_per_shard) in
document order, so shards are contiguous in the global order, every shard
except the last holds >= tokens_per_shard - max_doc_tokens and documents
never split. The running sum is the BLOCKED global running sum
(operators/ordering.py) — no corpus-wide single-task window.

``corpus_report`` is the one-row audit summary (docs, tokens, language
mix entropy, quality rates) a curation run logs next to its manifest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import cut
from .ordering import block_of, blocked_running_sum
from .textstats import count_words

_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _require_numeric_id(df: DataFrame, id_col: str, op: str) -> None:
    """block_of(id) = floor(id / block) needs a NUMERIC global order key:
    with string ids, ANSI mode crashes on the cast, and legacy mode sends
    every row to the single NULL block — silently re-creating the
    corpus-global single-task sort the blocked construction exists to
    avoid (and a numeric-looking string id would block numerically but
    sort lexicographically, breaking the documented global-id order).
    Fail loud at construction instead."""
    dtype = dict(df.dtypes).get(id_col)
    base = (dtype or "").split("(")[0]
    if base not in _NUMERIC_TYPES and not base.startswith("decimal"):
        raise ValueError(
            f"{op} needs a numeric id column for blocked ordering; "
            f"{id_col!r} is {dtype!r} — map ids to a numeric key first "
            "(e.g. a dense rank or ingest sequence)"
        )


def token_count(col: Column) -> Column:
    # one definition of word-count semantics (textstats.count_words);
    # NULL text counts 0 tokens — without the coalesce, size(NULL) is
    # NULL (ANSI) or -1 (legacy), which would poison the blocked running
    # sums every consumer below builds on
    return count_words(F.coalesce(col, F.lit(""))).cast("bigint")


def pack_shards(
    df: DataFrame,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, n_tokens, shard_id). Documents keep global id order inside
    and across shards; shard_id derives from the EXCLUSIVE running token
    sum so a document lands in the shard that was open when it arrived."""
    _require_numeric_id(df, id_col, "pack_shards")
    d = df.select(
        F.col(id_col).alias("id"), token_count(F.col(text_col)).alias("n_tokens")
    )
    run = blocked_running_sum(
        d, block_of("id"), ["id"], "n_tokens", out="_incl"
    )
    return run.select(
        "id",
        "n_tokens",
        F.floor((F.col("_incl") - F.col("n_tokens")) / tokens_per_shard)
        .cast("bigint")
        .alias("shard_id"),
    )


def corpus_report(df: DataFrame, text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """One-row corpus audit: doc/token totals, length quantiles, language
    count. Single aggregation with map-side partials; the approximate
    percentiles are the streaming sketch form (no sort)."""
    col = F.col(text_col)
    toks = token_count(col)
    agg = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
        F.min(toks).cast("bigint").alias("min_tokens"),
        F.max(toks).cast("bigint").alias("max_tokens"),
        F.percentile_approx(toks, [0.5, 0.9, 0.99]).alias("token_quantiles"),
        F.countDistinct(F.col(lang_col)).cast("bigint").alias("n_langs"),
    ]
    return df.agg(*agg)


def make_training_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-style concat-and-chunk layout: the corpus's token stream (docs
    concatenated in global id order) is cut into fixed ``seq_len``-token
    training sequences, and each document is mapped to the fragments it
    contributes: one row per (document, overlapped sequence) with

      - ``seq_id``      which training sequence the fragment lands in
      - ``frag_start``  first token of the fragment WITHIN the document
      - ``frag_len``    fragment token count
      - ``seq_offset``  where the fragment begins WITHIN the sequence

    This is the writer-side assignment table: a shard writer joins it to
    the tokenized docs and emits sequences without ever materializing the
    global token stream. Zero-token documents contribute nothing.

    Scale: the global exclusive token offset is the BLOCKED running sum
    (no single-task corpus window); everything after is map-side integer
    arithmetic plus one bounded explode (a document overlaps at most
    n_tokens/seq_len + 1 sequences, so output is linear in corpus
    tokens)."""
    _require_numeric_id(df, id_col, "make_training_sequences")
    d = df.select(
        F.col(id_col).alias("id"), token_count(F.col(text_col)).alias("n_tokens")
    )
    return _sequence_assignments(d, seq_len)


def _sequence_assignments(d: DataFrame, seq_len: int) -> DataFrame:
    """Core fragment math over an (id, n_tokens) table — shared by the
    text-proxy assignment view (make_training_sequences) and the real
    token-id writer (assemble_training_sequences)."""
    run = blocked_running_sum(d, block_of("id"), ["id"], "n_tokens", out="_incl")
    s = F.col("_incl") - F.col("n_tokens")
    L = F.lit(seq_len)
    spanned = run.filter(F.col("n_tokens") > 0).select(
        "id",
        "n_tokens",
        s.alias("_s"),
        F.explode(
            F.sequence(
                F.floor(s / L).cast("bigint"),
                F.floor((s + F.col("n_tokens") - 1) / L).cast("bigint"),
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * L, F.col("_s"))
    hi = F.least((F.col("seq_id") + 1) * L, F.col("_s") + F.col("n_tokens"))
    return spanned.select(
        "id",
        "seq_id",
        (lo - F.col("_s")).cast("bigint").alias("frag_start"),
        (hi - lo).cast("bigint").alias("frag_len"),
        (lo - F.col("seq_id") * L).cast("bigint").alias("seq_offset"),
    )


def assemble_training_sequences(
    tokenized: DataFrame,
    seq_len: int,
    id_col: str = "id",
    tokens_col: str = "token_ids",
) -> DataFrame:
    """The writer itself: (seq_id, token_ids) rows of EXACTLY ``seq_len``
    tokens (the one global tail sequence may be shorter) — the corpus's
    token stream in global id order, concat-and-chunk, materialized from
    per-document token arrays (``textstats.tokenize_bpe`` output).

    Unlike ``make_training_sequences`` (an assignment VIEW whose counts
    come from the text proxy), this computes fragment spans from the REAL
    array lengths, slices each document's contribution natively
    (``F.slice``), and reassembles per sequence. One corpus shuffle — the
    groupBy(seq_id) — which is inherent: it IS the re-layout from
    document order to training order. Per-group state is bounded by
    seq_len tokens (a sequence receives at most seq_len single-token
    fragments), so there is no skew cliff; sequences land pre-sorted for
    a shard writer via sort WITHIN partitions downstream if needed.

    The tokenized input is cut ONCE (``materialize.cut``) before the
    fan-out: the fragment math reads it
    on three branches (the running sum's two passes + the token-array
    join side), and without the cut Spark would re-run the upstream
    tokenizer UDF — the most expensive map stage in the pipeline — for
    each branch."""
    _require_numeric_id(tokenized, id_col, "assemble_training_sequences")
    # NULL token arrays count 0 tokens: size(NULL) is -1 (legacy) or NULL
    # (ANSI) — either would poison the blocked running sum every later
    # document's offsets build on (the token_count hazard, same guard)
    d = cut(
        tokenized.select(
            F.col(id_col).alias("id"),
            F.col(tokens_col).alias("_toks"),
            F.when(F.col(tokens_col).isNull(), F.lit(0))
            .otherwise(F.size(F.col(tokens_col)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    frags = _sequence_assignments(d.select("id", "n_tokens"), seq_len).join(
        d.select("id", "_toks"), "id"
    )
    piece = F.slice(
        F.col("_toks"), (F.col("frag_start") + 1).cast("int"), F.col("frag_len").cast("int")
    )
    return (
        frags.select("seq_id", F.struct(F.col("seq_offset"), piece.alias("_p")).alias("_f"))
        .groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("_f")), lambda x: x["_p"]
                )
            ).alias("token_ids")
        )
    )


def shard_manifest(assignments: DataFrame) -> DataFrame:
    """Per-shard manifest over pack_shards' output — the table a trainer's
    data loader reads to plan epochs without scanning the corpus:
    (shard_id, n_docs, n_tokens, first_id, last_id). One groupBy(shard_id)
    with map-side partials; shard count = corpus_tokens / budget, so the
    manifest itself is small enough to broadcast or collect."""
    return (
        assignments.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
    )
