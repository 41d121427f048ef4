"""Full-text retrieval over the training corpus: term statistics,
inverted index, and BM25 top-k — the lexical-search primitives behind
retrieval-based data selection, decontamination-by-retrieval, and
"find the documents like this probe" corpus forensics.

Tokenization is the repo's LM convention (operators/lm.py): lowercase,
``[^a-z0-9]+`` delimiters — identical byte semantics in Java regex
(Spark) and RE2 (the DuckDB oracle), so every count below replays
exactly in SQL.

Scale shape (the part that matters at 10^12 docs):

- ``term_frequencies`` is one explode + one (doc, term) aggregation
  with map-side partials — the shuffle carries DISTINCT (doc, term)
  pairs, not tokens. Document length rides the grouping key (constant
  per doc), so no join-back.
- ``inverted_index`` adds one (term) aggregation. Posting lists are
  built with ``array_sort(collect_list(struct))`` — deterministic
  order without a per-term window (no hot key for stopword-tier
  terms; the agg tree-reduces). ``max_df_frac`` exists because at
  corpus scale the head of the Zipf curve ("the": df ~ N) is not a
  useful posting list and IS a multi-GB row — cap it.
- ``bm25_topk`` never shuffles the corpus: the query's terms are plan
  literals (an ``isin`` filter applied at the explode, so non-query
  tokens die map-side), corpus scalars (N, avgdl) broadcast via
  crossJoin of 1-row aggs, per-term df is an agg over the already-
  filtered tf table (<= |query| * N_matching rows), and the final
  top-k is ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject,
  the distributed two-phase top-k (per-partition heap + driver merge
  of P*k rows).
- ``bm25_knn_join`` (many queries) broadcasts the query-term table and
  takes the two-phase (q_id, partition) top-k ``ordering.top_k_per``,
  as knn_join does, so a single hot query never lands on one reducer.

BM25 is the Lucene/Robertson variant:

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Scores are rounded to 6 decimals (repo oracle convention — absorbs
summation-order ulp drift) and ties break on ascending doc id, so
top-k is total-ordered and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textractssmlprocessor_spark.operators.dedup import _spread
from textractssmlprocessor_spark.operators.lm import tokens_column
from textractssmlprocessor_spark.operators.ordering import top_k_per


def _tokenize(query: str) -> list[str]:
    """Driver-side mirror of tokens_column for the (tiny) query string —
    including the case-fold pre-substitution (textstats.CASEFOLD_SRC)."""
    import re

    from textractssmlprocessor_spark.operators.textstats import (
        CASEFOLD_DST,
        CASEFOLD_SRC,
    )

    folded = (query or "").translate(
        {ord(s): d for s, d in zip(CASEFOLD_SRC, CASEFOLD_DST)}
    )
    return [t for t in re.split(r"[^a-z0-9]+", folded.lower()) if t]


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, dl): within-document term counts plus document
    length in tokens. One explode, one (doc, term, dl) aggregation with
    map-side partials; dl is constant per doc so it rides the grouping
    key instead of a join-back."""
    toks = _spread(df, text_col).select(
        F.col(id_col).alias("doc_id"),
        tokens_column(F.col(text_col)).alias("toks"),
    )
    return (
        toks.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(term, df, postings) where postings is array<struct<doc_id, tf>>
    sorted by doc_id — the classic posting-list table, one aggregation
    past term_frequencies.

    ``min_df`` drops hapax noise; ``max_df_frac`` drops the Zipf head
    (df > frac * N): a term in most of a 10^12-doc corpus is a stopword
    whose posting list is a multi-GB single row — at scale you ALWAYS
    want this cap, which is why it's a first-class knob rather than a
    downstream filter (the cap applies before the collect_list ships
    postings, via a cheap df pre-count)."""
    tf = term_frequencies(df, id_col, text_col)
    if max_df_frac is not None:
        n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n"))
        dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        keep = dfc.crossJoin(F.broadcast(n_docs)).filter(
            F.col("df") <= F.col("n") * float(max_df_frac)
        )
        tf = tf.join(keep.select("term"), "term")
    out = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("postings"),
        )
    )
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def _bm25_weight(tf: Column, dl: Column, avgdl: Column, k1: float, b: float) -> Column:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for one query string by BM25. Returns
    (doc_id, score), score descending, ties broken by ascending doc_id,
    score rounded to 6 decimals.

    The query's terms are PLAN LITERALS — the isin filter kills
    non-query tokens at the explode (map-side), so the only shuffled
    rows are (doc, matched-term) pairs. df/N/avgdl are small aggs
    broadcast back via crossJoin; the top-k is orderBy().limit(k) =
    TakeOrderedAndProject (distributed partial top-k, driver merges
    P*k rows). An empty or all-unmatched query returns 0 rows."""
    terms = sorted(set(_tokenize(query)))
    if not terms:
        # empty frame built FROM df's id type: a hardcoded bigint schema
        # would make the result schema depend on query content for string
        # id columns (union/schema checks break only on this edge)
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    toks = _spread(df, text_col).select(
        F.col(id_col).alias("doc_id"),
        tokens_column(F.col(text_col)).alias("toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("dft"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * _bm25_weight(F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b)).alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_knn_join(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_id_col: str = "q_id",
    q_text_col: str = "text",
) -> DataFrame:
    """Batch BM25 retrieval: top-k corpus documents for EVERY query row.
    Returns (q_id, doc_id, score).

    The query table is assumed small (an eval set, a probe corpus) and
    BROADCASTS as exploded (q_id, term) rows — the corpus-side explode
    joins it map-side, so only matched (q_id, doc, term) survive to the
    one aggregation. Top-k is ordering.top_k_per (two phases, no hot
    reducer even when one query matches everything)."""
    q_terms = (
        queries.select(
            F.col(q_id_col).alias("q_id"),
            F.explode(tokens_column(F.col(q_text_col))).alias("term"),
        )
        .distinct()
    )
    toks = _spread(df, text_col).select(
        F.col(id_col).alias("doc_id"),
        tokens_column(F.col(text_col)).alias("toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .join(F.broadcast(q_terms.select("term").distinct()), "term")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("dft"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            (idf * _bm25_weight(F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b)).alias("w"),
        )
    )
    scored = (
        per_term.join(F.broadcast(q_terms), "term")
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    return top_k_per(scored, "q_id", [F.col("score").desc(), F.col("doc_id")], k)
