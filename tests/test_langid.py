"""Trained char-n-gram NB language ID (operators/langid.py).

The corpus here is purpose-built: each language draws words from a
disjoint deterministic syllable inventory, so character n-grams genuinely
separate the classes — unlike the driver's synthetic documents table,
whose `lang` column labels an English word salad. Training on half and
scoring the held-out half proves the model LEARNS (the stopword lexicon
in textstats.lang_id cannot even emit these class names)."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

SYLLABLES = {
    "aa": ["ka", "ri", "to", "mu", "se"],
    "bb": ["qu", "ix", "oz", "ef", "yl"],
    "cc": ["sh", "th", "ng", "wr", "ck"],
}


def _word(rng: random.Random, lang: str) -> str:
    return "".join(rng.choice(SYLLABLES[lang]) for _ in range(rng.randint(2, 4)))


def _doc(rng: random.Random, lang: str) -> str:
    return " ".join(_word(rng, lang) for _ in range(rng.randint(20, 40)))


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(20260818)
    rows = []
    langs = sorted(SYLLABLES)
    for i in range(240):
        lang = langs[i % 3]
        rows.append((i, _doc(rng, lang), lang))
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_holdout_accuracy(spark, corpus):
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    train = corpus.filter(F.col("doc_id") % 2 == 0)
    test = corpus.filter(F.col("doc_id") % 2 == 1)
    weights, stats = train_langid_nb(train, buckets=1024)
    scored = langid_scores(test, weights, stats, buckets=1024)
    joined = (
        test.select(F.col("doc_id").alias("id"), "lang")
        .join(scored, "id")
        .select((F.col("lang") == F.col("lang_model_pred")).alias("ok"))
        .groupBy()
        .agg(F.avg(F.col("ok").cast("double")).alias("acc"))
        .collect()[0]
    )
    assert joined["acc"] >= 0.95, joined["acc"]


def test_margin_and_counts(spark, corpus):
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    weights, stats = train_langid_nb(corpus, buckets=1024)
    scored = langid_scores(corpus.limit(20), weights, stats, buckets=1024)
    rows = scored.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["langid_n_grams"] > 0
        assert r["lang_model_margin"] is not None and r["lang_model_margin"] >= 0
        assert r["lang_model_score"] <= 0  # log-probabilities


def test_short_and_empty_docs_fall_back_to_prior(spark, corpus):
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    # Skew priors: duplicate the 'cc' slice so its prior wins ties.
    train = corpus.unionByName(
        corpus.filter(F.col("lang") == "cc").select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang"
        )
    )
    weights, stats = train_langid_nb(train, buckets=1024)
    probe = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, None)], "doc_id bigint, text string"
    )
    rows = {r["id"]: r for r in langid_scores(probe, weights, stats, buckets=1024).collect()}
    # Empty and sub-n docs carry zero grams; argmax = prior argmax = 'cc'.
    assert rows[1]["langid_n_grams"] == 0
    assert rows[1]["lang_model_pred"] == "cc"
    assert rows[2]["langid_n_grams"] == 0
    assert rows[2]["lang_model_pred"] == "cc"
    # NULL text keeps its row (left joins throughout).
    assert rows[3]["lang_model_pred"] == "cc"


def test_weight_table_is_bounded(spark, corpus):
    from textractssmlprocessor_spark.operators.langid import train_langid_nb

    buckets = 64
    weights, stats = train_langid_nb(corpus, buckets=buckets)
    assert weights.count() <= 3 * buckets
    assert stats.count() == 3


def test_deterministic_tiebreak(spark):
    """Two languages with identical training text: every score ties, the
    lexicographically smaller language must win in both the prediction
    and the (zero) margin."""
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    train = spark.createDataFrame(
        [(1, "shared identical text", "zz"), (2, "shared identical text", "am")],
        "doc_id bigint, text string, lang string",
    )
    weights, stats = train_langid_nb(train, buckets=256)
    probe = spark.createDataFrame(
        [(9, "shared identical text")], "doc_id bigint, text string"
    )
    row = langid_scores(probe, weights, stats, buckets=256).collect()[0]
    assert row["lang_model_pred"] == "am"
    assert row["lang_model_margin"] == 0.0


def test_null_labels_do_not_train_a_class(spark, corpus):
    """Unlabeled (NULL-lang) rows are dropped before fitting: a NULL
    class would score prior-only, never match a weight row, and flip
    zero-feature ties between Spark (NULLS FIRST asc) and ANSI/DuckDB
    (NULLS LAST) — the divergence fuzz seed 4 caught on an equal-priors
    corpus. Flooding training with unlabeled rows must change NOTHING."""
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    labeled = corpus.filter(F.col("doc_id") % 2 == 0)
    flooded = labeled.unionByName(
        corpus.select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            "text",
            F.lit(None).cast("string").alias("lang"),
        )
    )
    w_a, s_a = train_langid_nb(labeled, buckets=512)
    w_b, s_b = train_langid_nb(flooded, buckets=512)
    assert s_b.filter(F.col("lang").isNull()).count() == 0
    assert sorted(map(tuple, s_a.collect())) == sorted(map(tuple, s_b.collect()))
    # zero-gram docs tie across classes on a balanced corpus; the argmax
    # must be a REAL language in every case, never NULL
    probe = spark.createDataFrame([(1, ""), (2, None)], "doc_id bigint, text string")
    for r in langid_scores(probe, w_b, s_b, buckets=512).collect():
        assert r["lang_model_pred"] is not None


def test_all_null_labels_degrade_to_empty_model(spark):
    """A corpus with NO labeled rows fits zero classes: stats/weights are
    empty, scoring yields zero rows (the degenerate-input invariant), and
    freezing round-trips the empty tables without error."""
    from textractssmlprocessor_spark.materialize import freeze
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    unlabeled = spark.createDataFrame(
        [(1, "some text", None), (2, None, None)],
        "doc_id bigint, text string, lang string",
    )
    weights, stats = train_langid_nb(unlabeled, buckets=256)
    assert weights.count() == 0 and stats.count() == 0
    w_l, s_l = freeze(weights), freeze(stats)
    assert langid_scores(unlabeled, w_l, s_l, buckets=256).count() == 0


def test_materialized_model_replays_identically(spark, corpus):
    from textractssmlprocessor_spark.materialize import freeze
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    train = corpus.filter(F.col("doc_id") % 2 == 0)
    weights, stats = train_langid_nb(train, buckets=512)
    w_local, s_local = freeze(weights), freeze(stats)
    direct = {
        r["id"]: (r["lang_model_pred"], r["lang_model_score"])
        for r in langid_scores(corpus, weights, stats, buckets=512).collect()
    }
    replayed_df = langid_scores(corpus, w_local, s_local, buckets=512)
    replayed = {
        r["id"]: (r["lang_model_pred"], r["lang_model_score"])
        for r in replayed_df.collect()
    }
    assert replayed == direct
    # the replay plan scores against frozen literal tables: the training
    # aggregations (per-(lang,cell) counts, per-lang totals, doc priors)
    # are gone, so it carries strictly fewer shuffles than inline training
    def n_exchanges(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    assert n_exchanges(replayed_df) < n_exchanges(
        langid_scores(corpus, weights, stats, buckets=512)
    )
