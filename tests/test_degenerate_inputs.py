"""Degenerate-input sweep: every contract query on a ZERO-ROW corpus and
on an all-NULL-text corpus.

At 10^12-doc scale a filter/partition/delta feed routinely produces an
empty or all-NULL slice of the exact same schema (a new crawl with no new
hosts, a language filter matching nothing, a resume run whose lineage
anti-join removes everything). Every operator composition must plan and
execute on that slice without raising — silently returning 0 rows is
correct; an IndexError from a driver-side collect of an empty model agg
is not. The contract registry (__spark_entry__.queries) is the sweep
surface: it composes every public operator exactly as the driver runs it.

Runtime note: each query is executed with .count() only (no oracle); the
whole sweep is planning-dominated.
"""

from __future__ import annotations

import os

import pytest

# Schemas mirror /root/testdata/sf0.001 (TESTDATA.md); DDL strings keep
# Spark <-> parquet types exact (timestamp, array<float>).
TABLE_DDL = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    ),
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def _write_corpus(spark, base: str, rows_for):
    os.makedirs(base, exist_ok=True)
    for name, ddl in TABLE_DDL.items():
        df = spark.createDataFrame(rows_for(name), ddl)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"{name}.parquet")
        )


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sf_empty"))
    _write_corpus(spark, base, lambda name: [])
    return base


@pytest.fixture(scope="module")
def null_text_sf_dir(spark, tmp_path_factory):
    """Rows EXIST but every nullable payload column is NULL: the shape a
    schema-drifted upstream or a corrupt-column scan produces. Keys stay
    non-NULL (ids are never NULL in a real table); text/lang/props/
    embedding/label all NULL."""
    base = str(tmp_path_factory.mktemp("sf_nulls"))
    import datetime

    ts = datetime.datetime(2024, 1, 1)

    def rows_for(name):
        n = 6
        if name == "documents":
            return [(i, None, None, None, None) for i in range(n)]
        if name == "embeddings":
            return [(i, None, None) for i in range(n)]
        if name == "events":
            return [(i, ts, i % 3, None, None, None) for i in range(n)]
        # dimension tables: minimal valid keys, NULL payloads
        if name == "region":
            return [(i, None) for i in range(2)]
        if name == "nation":
            return [(i, None, 0) for i in range(2)]
        if name == "customer":
            return [(i, None, 0, None, None) for i in range(2)]
        if name == "supplier":
            return [(i, None, 0, None) for i in range(2)]
        if name == "part":
            return [(i, None, None, None, None, None) for i in range(2)]
        if name == "orders":
            return [(i, 0, None, None, ts, None) for i in range(2)]
        if name == "lineitem":
            return [
                (i, 0, 0, 1, None, None, None, None, None, None, ts)
                for i in range(2)
            ]
        raise AssertionError(name)

    _write_corpus(spark, base, rows_for)
    return base


def _query_items():
    import __spark_entry__ as entry

    return sorted(entry.queries().items())


@pytest.mark.parametrize(
    "name,fn", _query_items(), ids=[n for n, _ in _query_items()]
)
def test_contract_query_on_empty_corpus(spark, empty_sf_dir, name, fn):
    n = fn(spark, empty_sf_dir).count()
    assert n >= 0


@pytest.mark.parametrize(
    "name,fn", _query_items(), ids=[n for n, _ in _query_items()]
)
def test_contract_query_on_null_payload_corpus(
    spark, null_text_sf_dir, persistent_rdds, name, fn
):
    """Also the leak gate: a query run inside one materialize.scope leaves
    no cached or checkpointed block behind (a bare localCheckpoint in any
    operator would)."""
    from textractssmlprocessor_spark.materialize import scope

    before = persistent_rdds()
    with scope(spark):
        out = fn(spark, null_text_sf_dir)
        n = out.count()
    assert n >= 0
    # compared as "nothing added" (driver GC may clean blocks an earlier
    # test leaked); `out` stays referenced, so GC cannot clean a block
    # leaked into its plan before this check
    assert persistent_rdds() - before == set()


def test_flagship_extraction_on_hostile_deep_page(spark):
    """End-to-end lock on the iterative DOM/SSML walkers THROUGH the fused
    pandas UDF: the worker process has the same ~1000-frame recursion
    limit as the driver, so a crawl page with thousands of nested tags
    must extract chunks (not RecursionError the task). Covers both a
    stripped-wrapper nest (<em>) and an allowed-SSML nest (<s>) that
    reaches clean_ssml_tags' splice."""
    import datetime

    from textractssmlprocessor_spark.operators.extract import extract_chunks

    depth = 5000
    deep_em = "<h4>T</h4>" + "<em>" * depth + "deep body text" + "</em>" * depth
    deep_s = "<p>" + "<s>" * depth + "inner" + "</s>" * depth + "</p>"
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://hostile.example.org/em", ts, deep_em.encode(), None, "en"),
            ("https://hostile.example.org/s", ts, deep_s.encode(), None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rows = extract_chunks(pages, num_partitions=2).collect()
    texts = {r["url"]: r["extracted_text"] for r in rows}
    assert "deep body text" in texts["https://hostile.example.org/em"]
    assert "inner" in texts["https://hostile.example.org/s"]
