"""DSIR importance scoring (operators/dsir.py): target-likeness ordering,
totality, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_dsir_ranks_target_like_docs_higher(spark):
    from textractssmlprocessor_spark.operators.dsir import dsir_scores

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog again and again")
         for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # target-like
            (2, "zzz qqq www eee rrr ttt yyy uuu iii ooo"),        # alien
            (3, ""),                                               # no grams
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in dsir_scores(raw, target, buckets=500).collect()}
    assert out[1]["dsir_logratio"] > out[2]["dsir_logratio"]
    assert out[3]["dsir_n_grams"] == 0 and out[3]["dsir_logratio"] is None
    assert out[1]["dsir_n_grams"] == 8

    # deterministic: identical rerun, identical scores
    again = {r["id"]: r for r in dsir_scores(raw, target, buckets=500).collect()}
    assert {k: v["dsir_logratio"] for k, v in again.items()} == {
        k: v["dsir_logratio"] for k, v in out.items()
    }


def test_dsir_total_over_input_ids(spark, sf_dir):
    from textractssmlprocessor_spark.operators.dsir import dsir_scores

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    tgt = d.filter(F.col("doc_id") % 5 == 0)
    out = dsir_scores(d, tgt, buckets=1000)
    assert out.count() == d.count()
    assert out.filter(F.col("dsir_n_grams") > 0).filter(
        F.col("dsir_logratio").isNull()
    ).count() == 0


def test_linear_classifier_scores_and_totality(spark):
    from textractssmlprocessor_spark.operators.dsir import (
        hashed_gram_cells,
        linear_text_classifier,
    )

    df = spark.createDataFrame(
        [(1, "good words here today"), (2, "")],
        "doc_id long, text string",
    )
    # weight +1 on exactly the cells doc 1 hits -> logit = n_grams + bias
    cells = [r["cell"] for r in hashed_gram_cells(df, buckets=100).collect()]
    w = spark.createDataFrame(
        [(int(c), 1.0) for c in set(cells)], "cell long, weight double"
    )
    out = {r["id"]: r for r in
           linear_text_classifier(df, w, buckets=100, bias=-1.0).collect()}
    assert out[1]["clf_n_grams"] == 3
    assert out[1]["clf_logit"] == 2.0          # 3*1.0 - 1.0
    assert abs(out[1]["clf_prob"] - 1 / (1 + 2.718281828 ** -2.0)) < 1e-6
    assert out[2]["clf_n_grams"] == 0 and out[2]["clf_prob"] is None


def test_train_nb_weights_separates_classes(spark):
    from textractssmlprocessor_spark.operators.dsir import (
        linear_text_classifier,
        train_nb_weights,
    )

    pos_texts = [f"fine literature essay chapter prose {i}" for i in range(8)]
    neg_texts = [f"click here buy cheap pills now {i}" for i in range(8)]
    rows = [(i, t) for i, t in enumerate(pos_texts)] + [
        (100 + i, t) for i, t in enumerate(neg_texts)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pos = df.filter(F.col("doc_id") < 100)
    neg = df.filter(F.col("doc_id") >= 100)
    w = train_nb_weights(pos, neg, buckets=500)
    # deterministic (closed form, no SGD order dependence)
    assert sorted(map(tuple, w.collect())) == sorted(
        map(tuple, train_nb_weights(pos, neg, buckets=500).collect())
    )
    assert w.count() <= 500  # bounded by the cell space: broadcastable
    # the trained model actually separates the classes it was fit on
    scored = linear_text_classifier(df, w, buckets=500)
    probs = {r["id"]: r["clf_prob"] for r in scored.collect()}
    mean_pos = sum(probs[i] for i in range(8)) / 8
    mean_neg = sum(probs[100 + i] for i in range(8)) / 8
    assert mean_pos > 0.8 > 0.2 > mean_neg, (mean_pos, mean_neg)
    # held-out generalization: unseen docs reusing class vocabulary score
    # on the right side of 0.5
    held = spark.createDataFrame(
        [(900, "fine literature essay"), (901, "buy cheap pills")],
        "doc_id bigint, text string",
    )
    hp = {r["id"]: r["clf_prob"] for r in linear_text_classifier(
        held, w, buckets=500).collect()}
    assert hp[900] > 0.5 > hp[901], hp


def test_prefit_model_replays_identically_with_fewer_shuffles(spark):
    """Train-once idiom (the langid-memo precedent): dsir_scores against a
    collected/rebuilt (cell, c_raw, c_tgt) model must equal the inline fit
    value-for-value, and its plan must drop the training aggregations —
    the model side becomes a local literal table."""
    from textractssmlprocessor_spark.materialize import freeze
    from textractssmlprocessor_spark.operators.dsir import dsir_model, dsir_scores

    raw = spark.createDataFrame(
        [(i, f"tok{i % 5} common words here tok{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    tgt = raw.filter("doc_id % 4 = 0")
    m = dsir_model(raw, tgt, buckets=64)
    local = freeze(m)

    refit = {
        r["id"]: (r["dsir_n_grams"], r["dsir_logratio"])
        for r in dsir_scores(raw, tgt, buckets=64).collect()
    }
    replay_df = dsir_scores(raw, tgt, buckets=64, model=local)
    replay = {
        r["id"]: (r["dsir_n_grams"], r["dsir_logratio"])
        for r in replay_df.collect()
    }
    assert replay == refit

    def n_exchanges(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert n_exchanges(replay_df) < n_exchanges(dsir_scores(raw, tgt, buckets=64))
