"""Trained language identification: multi-class multinomial naive Bayes
over hashed character n-grams — the fastText-langid architecture (Joulin
et al. 2016, "Bag of Tricks for Efficient Text Classification") with the
repo's deterministic closed-form trainer in place of SGD.

Why this exists: :func:`textstats.lang_id` is an honest 8-stopword-per-
language lexicon — zero-shuffle, but it cannot score a language outside
its hand-written lists (the synthetic corpus labels ``zh``, which no
Latin stopword list can ever predict). This module is the model-grade
alternative on the same engine discipline:

1. FEATURIZE (map-side): lowercase, collapse ASCII whitespace, slide a
   character n-gram window, hash each gram into one of ``buckets`` cells
   with the engine-portable md5 bucket (first 8 hex chars as a uniform
   32-bit int, mod buckets — identical in DuckDB as
   ``('0x' || substr(md5(g),1,8))::BIGINT % buckets``).
2. FIT (one aggregation): per-(lang, cell) gram counts with
   Laplace(alpha) smoothing give the NB log-likelihood table — at most
   ``n_langs * buckets`` rows, broadcastable by construction, independent
   of corpus size. Closed form = deterministic on any engine or cluster
   size (no SGD order dependence); weights round to 6 decimals (the
   repo's cross-engine float discipline).
3. SCORE (broadcast join + per-doc agg): each document's cells probe the
   weight table; unseen cells contribute the per-language default
   ln(alpha / (n_lang + alpha*B)); plus the log prior. argmax with a
   deterministic tie-break (score desc, lang asc) picks the prediction;
   the margin to the runner-up is the confidence signal.

At 10^12 documents: featurize/score are map-side scans, the only
shuffles are the bounded (lang, cell) count and the per-document score
aggregation (keyed by doc id — no hot key), and nothing corpus-sized is
collected or broadcast. Swapping in offline fastText-langid weights is a
table swap: any trainer that hashes into the same cells feeds
:func:`langid_scores` unchanged.

Reference parity note: the reference app (wryan14/TextractSSMLProcessor)
has no language-ID component; this operator belongs to the
training-data-pipeline suite layered on top of the extraction semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _spread
from .textstats import WS_PLUS, fold_lower


def _norm(col: Column) -> Column:
    """Case-fold-portable lowercase (textstats.fold_lower — Java's
    SpecialCasing İ/final-sigma diverge from utf8proc's simple map) +
    collapse ASCII whitespace runs to single spaces. Both operations
    byte-identical between Java regex and DuckDB RE2."""
    return F.regexp_replace(fold_lower(col), WS_PLUS, " ")


def char_gram_cells(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 4096,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra_cols], cell) — one row per character n-gram occurrence.

    The normalized string is materialized as an attribute column BEFORE
    the higher-order transform so the lambda binds an attribute, not an
    expression (the per-element re-evaluation trap documented in
    PLANS.md). Spark's ``sequence`` counts DOWN when stop < start, so
    short strings (< n chars) are gated to an empty array explicitly —
    mirroring DuckDB's empty ``generate_series(1, 0)``."""
    base = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        _norm(F.col(text_col)).alias("_s"),
    )
    s = F.col("_s")
    grams = F.when(
        F.length(s) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1), F.lit(1)),
            lambda i: s.substr(i, F.lit(n)),
        )
    )
    return (
        base.select("id", *extra_cols, F.explode(grams).alias("_g"))
        .select(
            "id",
            *extra_cols,
            F.pmod(
                F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10).cast("bigint"),
                F.lit(buckets),
            ).alias("cell"),
        )
    )


def train_langid_nb(
    labeled: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 4096,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Fit the NB model from a labeled corpus. Returns
    ``(weights, lang_stats)``:

    - ``weights``: (lang, cell, weight) where
      weight = round(ln((c + alpha) / (n_lang + alpha*B)), 6) — at most
      n_langs * buckets rows.
    - ``lang_stats``: (lang, default_w, log_prior) where default_w is the
      unseen-cell log-likelihood ln(alpha / (n_lang + alpha*B)) and
      log_prior = ln(docs_lang / docs_total), both rounded to 6.

    Rows with a NULL ``label_col`` are dropped before fitting: unlabeled
    data cannot train a supervised class, and keeping them would mint a
    NULL "language" that scores prior-only, never matches a weight row,
    and wins zero-feature ties under Spark's NULLS-FIRST ascending sort
    while losing them under DuckDB/ANSI NULLS-LAST — the engine
    divergence the differential fuzz gate caught on an equal-priors
    corpus (tools/fuzz_contract.py seed 4).
    """
    labeled = labeled.where(F.col(label_col).isNotNull())
    cells = char_gram_cells(
        labeled, id_col, text_col, n, buckets, extra_cols=(label_col,)
    )
    counts = cells.groupBy(label_col, "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    totals = counts.groupBy(label_col).agg(
        F.sum("c").cast("double").alias("n_lang")
    )
    b = float(buckets)
    weights = counts.join(totals, label_col).select(
        F.col(label_col).alias("lang"),
        "cell",
        F.round(
            F.log(
                (F.col("c").cast("double") + F.lit(alpha))
                / (F.col("n_lang") + F.lit(alpha * b))
            ),
            6,
        ).alias("weight"),
    )
    docs_per = labeled.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    total = docs_per.agg(F.sum("n_docs").alias("n_total"))
    lang_stats = (
        docs_per.join(totals, label_col, "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(label_col).alias("lang"),
            F.round(
                F.log(
                    F.lit(alpha)
                    / (F.coalesce("n_lang", F.lit(0.0)) + F.lit(alpha * b))
                ),
                6,
            ).alias("default_w"),
            F.round(F.log(F.col("n_docs") / F.col("n_total")), 6).alias(
                "log_prior"
            ),
        )
    )
    return weights, lang_stats


def langid_scores(
    df: DataFrame,
    weights: DataFrame,
    lang_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 4096,
) -> DataFrame:
    """Score every document against every language and pick the argmax.

    Returns (id, lang_model_pred, lang_model_score, lang_model_margin,
    langid_n_grams). Documents with zero n-grams fall back to the prior
    argmax (score = log_prior); margin is top1 - top2 (NULL when only one
    language exists). Scores round to 6 decimals — the repo convention
    absorbing summation-order ulp across engines.
    """
    cells = char_gram_cells(df, id_col, text_col, n, buckets)
    ngrams = cells.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    hits = (
        cells.join(F.broadcast(weights), "cell")
        .groupBy("id", "lang")
        .agg(
            F.sum("weight").alias("sum_w"),
            F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        )
    )
    base = (
        df.select(F.col(id_col).alias("id"))
        .join(ngrams, "id", "left")
        .crossJoin(F.broadcast(lang_stats))
    )
    scored = base.join(hits, ["id", "lang"], "left").select(
        "id",
        "lang",
        F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
        F.round(
            F.coalesce("sum_w", F.lit(0.0))
            + (
                F.coalesce("n_grams", F.lit(0).cast("bigint"))
                - F.coalesce("n_hit", F.lit(0).cast("bigint"))
            ).cast("double")
            * F.col("default_w")
            + F.col("log_prior"),
            6,
        ).alias("score"),
    )
    # n_langs rows per document — the window partitions by id, so there is
    # no hot key at any corpus size. Tie-break pins NULLS LAST explicitly:
    # Spark's bare asc() is NULLS FIRST, DuckDB/ANSI default is NULLS
    # LAST, so a NULL class label (impossible from train_langid_nb, but
    # possible from a hand-built model table) must not flip the argmax
    # between engines.
    w = Window.partitionBy("id").orderBy(
        F.desc("score"), F.asc_nulls_last("lang")
    )
    ranked = scored.select(
        "id", "lang", "score", "n_grams", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    return ranked.groupBy("id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias(
            "lang_model_pred"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("score"))).alias(
            "lang_model_score"
        ),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("score")))
            - F.max(F.when(F.col("rn") == 2, F.col("score"))),
            6,
        ).alias("lang_model_margin"),
        F.max("n_grams").alias("langid_n_grams"),
    )
