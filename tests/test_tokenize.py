"""BPE token-id production and training-sequence assembly: the last mile
from curated text to trainer-ready fixed-length sequences.

Invariants: tokenize_bpe's array length equals count_tokens_bpe's count
for every document (the count path and the order-preserving path agree);
assembled sequences reconstruct the exact global token stream in id order
with every row at seq_len except the single tail."""

import pytest

from textractssmlprocessor_spark.operators import textstats as ts
from textractssmlprocessor_spark.operators.shards import (
    assemble_training_sequences,
    make_training_sequences,
)

TEXTS = [
    (1, "The internationalization effort, begun in 2019, continues."),
    (2, "hello hello hello world"),
    (3, ""),
    (4, None),
    (5, "mixed CASE words & symbols: 12345 -- okay?"),
    (6, "über café naïve"),  # non-ASCII letters are NOT [A-Za-z]
    # Unicode whitespace (NBSP, LINE SEPARATOR, IDEOGRAPHIC SPACE): Java/
    # RE2 \s is ASCII, so these count as SYMBOL pre-tokens in both the
    # count path and (via re.ASCII) the id path — the divergence trap
    (7, "a\xa0b c\u2028d e\u3000f"),
]


@pytest.fixture(scope="module")
def merges(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    return ts.train_bpe_merges(docs, text_col="text", n_merges=60)


def test_vocab_is_deterministic_and_contiguous(merges):
    v1, v2 = ts.bpe_vocab(merges), ts.bpe_vocab(merges)
    assert v1 == v2
    assert sorted(v1.values()) == list(range(len(v1)))
    assert v1["a"] == 0 and v1["z"] == 25 and v1["</w>"] == 26


def test_alpha_pieces_roundtrip_to_word(merges):
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["internationalization", "the", "a", "zzzzq"]:
        pieces = ts.bpe_pieces(w, ranks)
        joined = "".join(pieces)
        # the marker is embedded in the last piece or dropped if bare
        assert joined in (w, w + "</w>")
        assert all(p in ts.bpe_vocab(merges) for p in pieces)


def test_token_ids_length_matches_count_tokens_bpe(spark, merges):
    df = spark.createDataFrame(TEXTS, "doc_id int, text string")
    got = {
        r["id"]: r["token_ids"]
        for r in ts.tokenize_bpe(df, merges).collect()
    }
    want = {
        r["id"]: r["n_tokens_bpe"]
        for r in ts.count_tokens_bpe(df, merges).collect()
    }
    assert set(got) == set(want)
    for i in got:
        assert len(got[i]) == want[i], f"doc {i}"
    assert got[3] == [] and got[4] == []


def test_fallback_ids_are_deterministic_and_out_of_vocab(spark, merges):
    df = spark.createDataFrame([(1, "12 12 &")], "doc_id int, text string")
    ids = ts.tokenize_bpe(df, merges).collect()[0]["token_ids"]
    n_vocab = len(ts.bpe_vocab(merges))
    assert len(ids) == 3
    assert ids[0] == ids[1]  # same digit run -> same bucket
    assert all(t >= n_vocab for t in ids)
    assert ids[2] != ids[0]


def test_assembled_sequences_reconstruct_global_stream(spark, merges):
    df = spark.createDataFrame(
        [t for t in TEXTS if t[1]], "doc_id int, text string"
    )
    tokenized = ts.tokenize_bpe(df, merges)
    seqs = assemble_training_sequences(tokenized, seq_len=7).collect()
    by_id = {r["seq_id"]: r["token_ids"] for r in seqs}
    stream = []
    for r in sorted(tokenized.collect(), key=lambda r: r["id"]):
        stream.extend(r["token_ids"])
    rebuilt = []
    for sid in sorted(by_id):
        rebuilt.extend(by_id[sid])
    assert rebuilt == stream
    # every sequence is exactly seq_len except the single tail
    lens = [len(by_id[sid]) for sid in sorted(by_id)]
    assert all(n == 7 for n in lens[:-1])
    assert 0 < lens[-1] <= 7
    assert sorted(by_id) == list(range(len(by_id)))


def test_assembly_agrees_with_assignment_view_counts(spark, merges):
    """The text-proxy view and the real writer agree on fragment counts
    when the proxy's token_count is replaced by the real array length."""
    df = spark.createDataFrame(
        [t for t in TEXTS if t[1]], "doc_id int, text string"
    )
    tokenized = ts.tokenize_bpe(df, merges)
    seqs = assemble_training_sequences(tokenized, seq_len=5)
    total_tokens = sum(len(r["token_ids"]) for r in tokenized.collect())
    assert seqs.count() == (total_tokens + 4) // 5


def test_assembly_cuts_tokenizer_from_the_fanout(spark, tmp_path, merges):
    """The tokenized input is cut before the three-branch fragment
    fan-out, on both storage paths (local checkpoint; reliable checkpoint
    under a checkpoint dir): the Arrow tokenizer UDF must appear NOWHERE
    in the assembled plan (it ran exactly once, at the cut), and the
    sequences must equal the tokenized stream in id order, chunked."""
    from conftest import checkpoint_dir_set

    df = spark.createDataFrame(
        [t for t in TEXTS if t[1]], "doc_id int, text string"
    )
    stream = [
        tok
        for r in sorted(ts.tokenize_bpe(df, merges).collect(), key=lambda r: r["id"])
        for tok in r["token_ids"]
    ]
    want = [(i, tuple(stream[i * 7:(i + 1) * 7])) for i in range((len(stream) + 6) // 7)]
    for path in (None, str(tmp_path / "ckpt")):
        with checkpoint_dir_set(spark, path):
            cut = assemble_training_sequences(ts.tokenize_bpe(df, merges), seq_len=7)
            plan = cut._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" not in plan and "EvalPython" not in plan
            got = sorted((r["seq_id"], tuple(r["token_ids"])) for r in cut.collect())
        assert got == want, path


def test_null_text_counts_zero_tokens_in_packing(spark):
    """NULL text must pack as 0 tokens, not poison the running sum
    (size(NULL) is NULL under ANSI, -1 legacy)."""
    from textractssmlprocessor_spark.operators.shards import pack_shards

    df = spark.createDataFrame(
        [(1, "three words here"), (2, None), (3, "more words")],
        "doc_id int, text string",
    )
    rows = {r["id"]: r for r in pack_shards(df, tokens_per_shard=4).collect()}
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["shard_id"] is not None
    assert make_training_sequences(df, seq_len=3).filter("id = 2").count() == 0


def test_assignment_view_unchanged_by_refactor(spark):
    """make_training_sequences still produces the documented fragment
    columns over a text column (regression for the shared-core split)."""
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "five six")], "doc_id int, text string"
    )
    rows = make_training_sequences(df, seq_len=3).collect()
    assert {r["id"] for r in rows} == {1, 2}
    assert set(rows[0].asDict()) == {
        "id", "seq_id", "frag_start", "frag_len", "seq_offset"
    }


def test_assemble_ignores_null_token_arrays(spark):
    """A NULL token_ids row counts 0 tokens: without the guard, legacy
    size(NULL) = -1 enters the blocked running sum and shifts every LATER
    document's global offset by one (corrupted sequences). The assembled
    stream must be identical to simply omitting the NULL row."""
    rows = [(1, [1, 2, 3]), (2, None), (3, [4, 5, 6, 7])]
    with_null = spark.createDataFrame(
        rows, "id bigint, token_ids array<int>"
    )
    without = spark.createDataFrame(
        [r for r in rows if r[1] is not None], "id bigint, token_ids array<int>"
    )
    a = {r["seq_id"]: r["token_ids"]
         for r in assemble_training_sequences(with_null, seq_len=5).collect()}
    b = {r["seq_id"]: r["token_ids"]
         for r in assemble_training_sequences(without, seq_len=5).collect()}
    assert a == b == {0: [1, 2, 3, 4, 5], 1: [6, 7]}


def test_blocked_packing_requires_numeric_ids(spark):
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.shards import (
        make_training_sequences,
        pack_shards,
    )

    strs = spark.createDataFrame(
        [("doc_00012", "a b c"), ("doc_5", "d e")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="numeric id"):
        pack_shards(strs, tokens_per_shard=10)
    with pytest.raises(ValueError, match="numeric id"):
        make_training_sequences(strs, seq_len=5)
    with pytest.raises(ValueError, match="numeric id"):
        assemble_training_sequences(
            strs.select(F.col("doc_id").alias("id"),
                        F.split("text", " ").alias("token_ids")),
            seq_len=5,
        )
