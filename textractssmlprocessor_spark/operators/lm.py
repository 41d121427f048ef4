"""CCNet-style n-gram language-model quality scoring.

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks Common-Crawl documents by the
perplexity of a small n-gram LM; low-perplexity text reads like the
training corpus, high-perplexity text is gibberish/boilerplate. This
module is that filter re-expressed as pure DataFrame algebra — counts,
joins, and one log — with NO model library and NO Python in the hot
path:

1. TRAIN (two aggregations, each with map-side partials): tokenize
   every document (lowercase, ``[^a-z0-9]+`` delimiters — identical
   semantics in Java regex and RE2, so a DuckDB oracle can replay it),
   count unigrams and within-document bigrams, and keep only entries
   with ``count >= min_count``. Under a Zipf word distribution the
   surviving table is O(corpus_tokens / min_count) rows — a bounded,
   broadcastable model, NOT corpus-sized. At the 10^12-doc scale the
   right deployment is to train on a deterministic sample or a fixed
   reference corpus (CCNet uses Wikipedia) via the ``train_df``
   parameter; the tables stay small either way.

2. SCORE (map-side except one per-doc aggregation): each document's
   bigrams probe the two model tables — both sides of the join are the
   *model* (small, broadcast), so scoring never shuffles the corpus —
   and every bigram gets an interpolated probability

       p(w2 | w1) = w_bi * c(w1,w2)/c(w1) + w_uni * c(w2)/N
                    + floor/(V + 1)

   (Jelinek-Mercer interpolation with a vocabulary floor so p > 0 and
   ln never sees 0; unseen counts contribute 0 via coalesce). The
   per-document output is ``lm_avg_logprob`` (mean ln p — the
   negated log-perplexity), ``lm_oov_frac`` (fraction of bigrams
   absent from the bigram table), and ``lm_n_bigrams``.

Engine parity: every probability is built from exact integer counts
with the same double-arithmetic shape the DuckDB oracle uses, and the
per-document mean is rounded to 6 decimals — the repo-wide convention
that absorbs summation-order ulp drift (CLAUDE.md).

Scale shape: tokenization and bigram generation are map-side array
expressions over a MATERIALIZED token column (attribute-bound lambdas —
not the higher-order re-evaluation trap, see repetition_stats); the two
training aggregations shuffle (token)- and (w1,w2)-keyed counts with
map-side partials; scoring is broadcast-hash joins plus one groupBy on
the document id. No windows, no driver collect, no corpus-sized
broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textractssmlprocessor_spark.operators.dedup import _spread
from textractssmlprocessor_spark.operators.textstats import fold_lower

TOKEN_DELIM_RE = "[^a-z0-9]+"  # same byte semantics in Java regex and RE2


def tokens_column(col: Column) -> Column:
    """Case-fold-portably lowercased alphanumeric tokens (fold_lower:
    Java's İ -> 'i'+combining-dot would SPLIT a token that DuckDB's
    İ -> 'i' keeps whole); NULL text behaves as empty (totality)."""
    return F.filter(
        F.split(fold_lower(F.coalesce(col, F.lit(""))), TOKEN_DELIM_RE),
        lambda t: t != "",
    )


def _bigram_structs(toks: str) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs. ``toks`` must name a
    MATERIALIZED column (bound attribute): the transform lambda then reads
    the row value per element instead of re-evaluating the tokenizer per
    element (the documented higher-order O(n^2) trap)."""
    c = F.col(toks)
    return F.when(
        F.size(c) >= 2,  # sequence(1, 0) would run DESCENDING
        F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda i: F.struct(
                F.element_at(c, i).alias("w1"),
                F.element_at(c, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def train_ngram_lm(
    df: DataFrame, text_col: str = "text", min_count: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(vocab, bigrams) count tables: vocab = (tok, c), bigrams =
    (w1, w2, c12), both thresholded at ``min_count`` (the bound that keeps
    the model broadcastable; bigrams additionally require both words in
    vocab so the table size is capped by the vocab's pair support)."""
    # spread a single-file input before the explode-heavy counting (at real
    # scale the scan already has thousands of splits — _spread is identity).
    # Round-robin (None key): hashing document TEXT as the partition key
    # would colocate every duplicate/empty text on one straggler partition
    toks = _spread(df, None).select(tokens_column(F.col(text_col)).alias("toks"))
    vocab = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .where(F.col("c") >= min_count)
    )
    pairs = toks.select(F.explode(_bigram_structs("toks")).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    bigrams = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .where(F.col("c12") >= min_count)
        .join(F.broadcast(vocab.select(F.col("tok").alias("w1"))), "w1")
        .join(F.broadcast(vocab.select(F.col("tok").alias("w2"))), "w2")
        .select("w1", "w2", "c12")
    )
    return vocab, bigrams


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_df: DataFrame | None = None,
    min_count: int = 2,
    w_bi: float = 0.7,
    w_uni: float = 0.25,
    floor: float = 0.05,
) -> DataFrame:
    """Per-document LM quality columns, total over the input:
    (id, lm_n_bigrams, lm_avg_logprob, lm_oov_frac). Documents with fewer
    than 2 tokens keep their row with lm_n_bigrams = 0 and NULL scores.

    ``train_df`` defaults to ``df`` itself (self-scored corpus — documents
    that read like the corpus average score high); pass a reference corpus
    for CCNet's fixed-LM behavior. At 10^12 docs train on a deterministic
    sample: the scoring side is unchanged.
    """
    train = df if train_df is None else train_df
    vocab, bigrams = train_ngram_lm(train, text_col=text_col, min_count=min_count)

    # model scalars as 1-row broadcast (never .collect(): keeps the whole
    # plan lazy and lets AQE see real sizes)
    totals = vocab.agg(
        F.sum("c").cast("double").alias("n_tok"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )

    base = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        tokens_column(F.col(text_col)).alias("toks"),
    )
    probes = base.select(
        "id", F.explode(_bigram_structs("toks")).alias("bg")
    ).select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    scored = (
        probes.join(
            F.broadcast(vocab.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(vocab.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))),
            "w2",
            "left",
        )
        .join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.col("c12").isNull().cast("int").alias("oov"),
            F.log(
                F.lit(w_bi)
                * F.coalesce(
                    F.col("c12").cast("double") / F.col("c1").cast("double"),
                    F.lit(0.0),
                )
                + F.lit(w_uni)
                * F.coalesce(
                    F.col("c2").cast("double") / F.col("n_tok"), F.lit(0.0)
                )
                + F.lit(floor) / (F.col("v") + F.lit(1.0))
            ).alias("logp"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("lm_n_bigrams"),
        F.round(F.sum("logp") / F.count(F.lit(1)), 6).alias("lm_avg_logprob"),
        F.round(
            F.sum("oov").cast("double") / F.count(F.lit(1)), 6
        ).alias("lm_oov_frac"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("lm_n_bigrams"), F.lit(0).cast("bigint")).alias(
                "lm_n_bigrams"
            ),
            "lm_avg_logprob",
            "lm_oov_frac",
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    score_col: str = "lm_avg_logprob",
    id_col: str = "id",
    sample_frac: float = 1.0,
    salt: str = "ppl-v1",
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """CCNet's head/middle/tail routing (Wenzek et al. 2020 §4.3): rank
    documents by LM score and cut the corpus into terciles — 'head' (most
    fluent) trains first-class, 'tail' is usually dropped. Returns
    ``scored`` plus a label column.

    Thresholds are the k-th highest score at k = ceil(m/3) and
    ceil(2m/3) over a DETERMINISTIC md5-hash sample (sampling.hash_bucket,
    so membership replays in any engine) — rank-based, not interpolated
    percentiles, because engines disagree on quantile interpolation but
    "min of the top-k multiset" is identical everywhere, ties included
    (boundary ties all take the better bucket in both engines).

    Scale shape: thresholds are DRIVER-SIDE SCALARS computed at plan-build
    time (one count + two TakeOrdered jobs over the bounded sample —
    CCNet itself fits thresholds on a sample) and inlined as literals, the
    IVF-centroid precedent (similarity.py); labeling the full corpus is
    then pure map-side. Keep ``sample_frac`` small enough that
    sample/3 rows fit the driver comfortably (the TakeOrdered merge);
    at 10^12 docs use ~10^-6.

    Fit and label are exposed separately (:func:`fit_perplexity_thresholds`
    / :func:`label_perplexity_buckets`) so a caller can fit ONCE and replay
    the two scalars across passes — the train-once idiom (the thresholds
    are plain floats; persisting them is a config entry, not a table)."""
    thresholds = fit_perplexity_thresholds(
        scored, score_col, id_col, sample_frac, salt
    )
    return label_perplexity_buckets(scored, thresholds, score_col, out_col)


def fit_perplexity_thresholds(
    scored: DataFrame,
    score_col: str = "lm_avg_logprob",
    id_col: str = "id",
    sample_frac: float = 1.0,
    salt: str = "ppl-v1",
) -> tuple[float, float] | None:
    """The fit half of :func:`perplexity_buckets`: the two tercile cut
    scores as driver floats (None for an empty sample). Three bounded
    driver actions over the deterministic sample; everything upstream of
    ``scored`` executes here, so fit once and replay.

    ``sample_frac`` quantizes to hash_bucket's 1/10000 granularity (the
    engine-portable sampling convention). A fraction below 1e-4 would
    quantize to an EMPTY sample and silently label the whole corpus NULL,
    so it raises instead — at 10^12 docs, sample at 1e-4 (10^8 rows of
    one double each) or pre-sample upstream with a wider hash."""
    import math

    from textractssmlprocessor_spark.materialize import cut, scope
    from textractssmlprocessor_spark.operators.sampling import hash_bucket

    samp = scored
    if sample_frac < 1.0:
        hi = int(sample_frac * 10000)
        if hi == 0:
            raise ValueError(
                f"sample_frac={sample_frac} quantizes to an empty sample "
                "(hash_bucket granularity is 1/10000); use >= 1e-4"
            )
        samp = scored.filter(hash_bucket(F.col(id_col), salt) < hi)
    # the narrow score projection feeds THREE driver actions (count + two
    # TakeOrdered) — cut it once or each action re-runs the whole
    # upstream scoring pipeline (observed 2.2x on the contract suite); the
    # thresholds are driver floats, so the sample is released on return
    with scope(scored.sparkSession):
        samp = cut(samp.select(F.col(score_col).alias("v")))
        m = samp.count()
        if m == 0:
            return None
        k1 = max(1, math.ceil(m / 3.0))
        k2 = max(1, math.ceil(2.0 * m / 3.0))
        t1 = samp.orderBy(F.col("v").desc()).limit(k1).agg(F.min("v")).first()[0]
        t2 = samp.orderBy(F.col("v").desc()).limit(k2).agg(F.min("v")).first()[0]
    return (t1, t2)


def label_perplexity_buckets(
    scored: DataFrame,
    thresholds: tuple[float, float] | None,
    score_col: str = "lm_avg_logprob",
    out_col: str = "ppl_bucket",
) -> DataFrame:
    """The label half of :func:`perplexity_buckets`: pure map-side tagging
    against fitted (or replayed) threshold literals."""
    if thresholds is None:
        return scored.withColumn(out_col, F.lit(None).cast("string"))
    t1, t2 = thresholds
    return scored.withColumn(
        out_col,
        F.when(F.col(score_col) >= t1, F.lit("head"))
        .when(F.col(score_col) >= t2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
