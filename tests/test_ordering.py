"""Blocked global-ordering primitives vs the single-task global window:
bit-identical results for every block geometry — multi-row blocks, size-1
blocks, gaps in the key space (missing blocks), nulls in the value column,
and a block size larger than the corpus (degenerate single block)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from textractssmlprocessor_spark.operators.ordering import (
    block_of,
    blocked_lag_lead,
    blocked_row_number,
    blocked_running_sum,
)


@pytest.fixture(scope="module")
def data(spark):
    # deterministic irregular key space: gaps, dense runs, a null value
    rows = [
        (k, f"v{k}" if k % 7 != 0 else None, (k * 13) % 97)
        for k in [0, 1, 2, 3, 9, 10, 11, 40, 41, 42, 43, 44, 45, 120, 500, 501]
    ]
    return spark.createDataFrame(rows, "id long, s string, x long").cache()


@pytest.mark.parametrize("block_size", [1, 4, 1000])
def test_blocked_row_number_matches_global(spark, data, block_size):
    w = Window.orderBy("id")
    expected = {
        r["id"]: r["rn"]
        for r in data.select(
            "id", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
    }
    got = {
        r["id"]: r["rn"]
        for r in blocked_row_number(
            data, block_of("id", block_size), ["id"]
        ).collect()
    }
    assert got == expected


@pytest.mark.parametrize("block_size", [1, 4, 1000])
def test_blocked_running_sum_matches_global(spark, data, block_size):
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    expected = {
        r["id"]: r["run"]
        for r in data.select("id", F.sum("x").over(w).alias("run")).collect()
    }
    got = {
        r["id"]: r["running"]
        for r in blocked_running_sum(
            data, block_of("id", block_size), ["id"], "x"
        ).collect()
    }
    assert got == expected


@pytest.fixture(scope="module")
def null_key_data(spark):
    # NULL BLOCK KEYS (e.g. a NULL sort key, or a regexp_extract block key
    # that didn't match): the single-task global window keeps these rows
    # nulls-first; the blocked primitives must too (null-safe block join),
    # not silently drop them.
    rows = [
        (i, None if i in (3, 12, 25) else i // 10, f"v{i}", (i * 13) % 97)
        for i in [0, 1, 3, 9, 10, 12, 21, 25, 30, 31]
    ]
    return spark.createDataFrame(rows, "id long, key long, s string, x long").cache()


def test_blocked_row_number_keeps_null_block_keys(spark, null_key_data):
    d = null_key_data
    w = Window.orderBy("key", "id")
    expected = {
        r["id"]: r["rn"]
        for r in d.select(
            "id", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
    }
    got = {
        r["id"]: r["rn"]
        for r in blocked_row_number(d, F.col("key"), ["id"]).collect()
    }
    assert got == expected  # all 10 rows present, NULL-key rows ranked first


def test_blocked_running_sum_keeps_null_block_keys(spark, null_key_data):
    d = null_key_data
    w = Window.orderBy("key", "id").rowsBetween(Window.unboundedPreceding, 0)
    expected = {
        r["id"]: r["run"]
        for r in d.select("id", F.sum("x").over(w).alias("run")).collect()
    }
    got = {
        r["id"]: r["running"]
        for r in blocked_running_sum(d, F.col("key"), ["id"], "x").collect()
    }
    assert got == expected


def test_blocked_lag_lead_keeps_null_block_keys(spark, null_key_data):
    d = null_key_data
    w = Window.orderBy("key", "id")
    expected = {
        r["id"]: (r["p"], r["n"])
        for r in d.select(
            "id", F.lag("s").over(w).alias("p"), F.lead("s").over(w).alias("n")
        ).collect()
    }
    got = {
        r["id"]: (r["prev"], r["next"])
        for r in blocked_lag_lead(d, F.col("key"), ["id"], "s").collect()
    }
    assert got == expected


@pytest.mark.parametrize("block_size", [1, 4, 1000])
def test_blocked_lag_lead_matches_global(spark, data, block_size):
    w = Window.orderBy("id")
    expected = {
        r["id"]: (r["p"], r["n"])
        for r in data.select(
            "id", F.lag("s").over(w).alias("p"), F.lead("s").over(w).alias("n")
        ).collect()
    }
    got = {
        r["id"]: (r["prev"], r["next"])
        for r in blocked_lag_lead(
            data, block_of("id", block_size), ["id"], "s"
        ).collect()
    }
    assert got == expected


def test_levels2_recursion_matches_flat_at_forcing_block_count(spark):
    """The documented recursion, exercised at a block count that needs it:
    block_of(id, 2) over 20,001 rows makes ~10,001 blocks, so the levels=2
    super-block scan (DEFAULT_BLOCK_SIZE 4096) spans 3 super-blocks — the
    offsets genuinely cross super-block boundaries. All three primitives
    must be bit-identical to both levels=1 and the single-task window."""
    df = spark.range(0, 20001).select(
        F.col("id"), (F.col("id") * 7 % 101).alias("x")
    )
    blk = block_of("id", 2)

    w = Window.orderBy("id")
    exp_rn = {r["id"]: r["rn"] for r in df.select(
        "id", F.row_number().over(w).cast("bigint").alias("rn")).collect()}
    got_rn = {r["id"]: r["rn"] for r in blocked_row_number(
        df, blk, ["id"], levels=2).collect()}
    assert got_rn == exp_rn

    ws = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    exp_run = {r["id"]: r["running"] for r in df.select(
        "id", F.sum("x").over(ws).alias("running")).collect()}
    got_run = {r["id"]: r["running"] for r in blocked_running_sum(
        df, blk, ["id"], "x", levels=2).collect()}
    assert got_run == exp_run

    exp_nav = {r["id"]: (r["prev"], r["next"]) for r in df.select(
        "id", F.lag("x").over(w).alias("prev"),
        F.lead("x").over(w).alias("next")).collect()}
    got_nav = {r["id"]: (r["prev"], r["next"]) for r in blocked_lag_lead(
        df, blk, ["id"], "x", levels=2).collect()}
    assert got_nav == exp_nav


def test_levels2_null_block_keys(spark, null_key_data):
    """NULL block keys survive levels=2 with the same nulls-first
    placement as the flat window (the super-block of the NULL block is
    itself NULL and scans first)."""
    got = {r["id"]: r["rn"] for r in blocked_row_number(
        null_key_data, block_of("key", 2), ["id"], levels=2).collect()}
    flat = {r["id"]: r["rn"] for r in null_key_data.select(
        "id",
        F.row_number().over(
            Window.orderBy(block_of("key", 2), "id")
        ).cast("bigint").alias("rn"),
    ).collect()}
    assert got == flat


def test_levels_validation():
    import pytest as _pytest

    from textractssmlprocessor_spark.operators.ordering import _block_offsets

    with _pytest.raises(ValueError):
        _block_offsets(None, F.lit(1), levels=3)


def test_blocked_running_sum_null_leading_values(spark):
    """A block whose LEADING values are NULL must carry the prior blocks'
    offset (NULL contributes 0), not poison the whole block with NULL —
    running offsets must be defined for every row."""
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.operators.ordering import (
        block_of,
        blocked_running_sum,
    )

    df = spark.createDataFrame(
        [(0, 5.0), (1, 1.0), (2, None), (3, 2.0)], "k bigint, v double"
    )
    got = {
        r["k"]: r["running"]
        for r in blocked_running_sum(
            df, block_of("k", 2), ["k"], "v"
        ).collect()
    }
    assert got == {0: 5.0, 1: 6.0, 2: 6.0, 3: 8.0}


def test_ordered_values_ties_nulls_across_partitions(spark):
    """The group's values come back in key order whatever partition each
    row arrived from: ties on the key break by value, NULL keys sort
    first, and a NULL value keeps its slot."""
    from textractssmlprocessor_spark.operators.ordering import ordered_values

    rows = [
        (1, 2, "b"), (1, 2, "a"), (1, None, "z"), (1, 1, None), (1, 0, "c"),
        (1, 1, "d"), (2, 5, "y"), (2, 3, "x"), (2, 5, None), (2, None, None),
    ]
    df = spark.createDataFrame(rows, "g int, k int, v string").repartition(5)
    assert df.rdd.getNumPartitions() >= 4
    got = {
        r["g"]: r["vs"]
        for r in df.groupBy("g").agg(ordered_values("v", "k").alias("vs")).collect()
    }
    assert got == {
        1: ["z", "c", None, "d", "a", "b"],
        2: [None, "x", None, "y"],
    }


@pytest.fixture(scope="module")
def scored(spark):
    # distinct (score, id) pairs, rows spread round-robin over 6 partitions
    rows = [(0, (i * 37) % 11, i) for i in range(40)] + [(1, 3, 100), (1, 9, 101), (1, 3, 102)]
    return spark.createDataFrame(rows, "key int, s int, id int").repartition(6).cache()


def test_top_k_per_single_key_equals_global_sort(spark, scored):
    """One key holding rows in every partition: the two phases return the
    global sort's first k."""
    from textractssmlprocessor_spark.operators.ordering import top_k_per

    order = [F.col("s").desc(), F.col("id")]
    one = scored.filter(F.col("key") == 0)
    assert one.rdd.glom().map(len).filter(lambda n: n > 0).count() >= 4
    expected = [tuple(r) for r in one.orderBy(*order).limit(5).collect()]
    got = [tuple(r) for r in top_k_per(one, "key", order, 5).orderBy(*order).collect()]
    assert got == expected


def test_top_k_per_k_above_group_size_keeps_whole_group(spark, scored):
    from textractssmlprocessor_spark.operators.ordering import top_k_per

    got = top_k_per(scored, "key", [F.col("s").desc(), F.col("id")], 10)
    assert sorted(r["id"] for r in got.filter(F.col("key") == 1).collect()) == [100, 101, 102]
    assert got.filter(F.col("key") == 0).count() == 10
    assert got.columns == scored.columns


def test_dedup_paragraphs_first_occurrence_needs_fingerprint_and_position(spark):
    """Doc 5 holds two rows: position (5, 0) is the first occurrence of
    'ex' but a later copy of 'why'. Only the paragraph whose fingerprint
    first occurs there survives, so both doc-5 rows rebuild to 'ex'."""
    from textractssmlprocessor_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(2, "why"), (5, "ex"), (5, "why")], "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in dedup_paragraphs(df).collect())
    assert got == [(2, "why"), (5, "ex"), (5, "ex")]
