"""Plan-shape regression gates for the scale-critical physical properties
the heavy operators promise in their docstrings (PLANS.md discipline):
Python-free plans where claimed, exactly ONE fused ArrowEvalPython on the
flagship, parquet filter/column pushdown reaching the scan. These lock the
plan SHAPE so a refactor can't silently reintroduce a per-row Python node
or an unpushed filter — the failures that only show up at 100x data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_main_content_is_python_free_and_exchange_free(spark, sf_dir):
    from textractssmlprocessor_spark.operators.content import main_content

    pages = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("<p>"), "text", F.lit("</p><nav>x</nav>")).alias("html"),
    )
    plan = _plan(main_content(pages))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "Exchange" not in plan, plan


def test_flagship_has_exactly_one_arrow_node_and_one_exchange(spark, sf_dir):
    from textractssmlprocessor_spark.corpus import pages_from_documents
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    plan = _plan(extract_chunks(pages_from_documents(spark, sf_dir)))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange") == 1, plan
    # the salt routes by the url hash itself (the lineage bucket's hash),
    # not by a Murmur3 hash of it
    assert "Exchange shufflepartitionidpassthrough(" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_parquet_scan_pushdown(spark, tmp_path):
    # own parquet file: reading the shared sf_dir here is flaky — any
    # other test that .cache()d a DataFrame over the same path makes the
    # cache manager substitute an InMemoryRelation (all columns) for the
    # file scan, and the pushdown/pruning assertions see no FileScan
    src = str(tmp_path / "docs.parquet")
    spark.range(100).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang",
        "repeat('x', 50) AS text",
    ).write.parquet(src)
    df = (
        spark.read.parquet(src)
        .filter(F.col("doc_id") % 2 == 0)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "EqualTo(lang,en)" in pushed and "IsNotNull(lang)" in pushed, plan
    # column pruning: the wide text column must not reach the scan
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1], plan


def test_c4_and_quality_columns_are_map_side(spark, sf_dir):
    from textractssmlprocessor_spark.operators.content import c4_line_columns
    from textractssmlprocessor_spark.operators.textstats import (
        gopher_columns,
        quality_columns,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = {}
    cols.update(c4_line_columns(F.col("text")))
    cols.update(quality_columns(F.col("text")))
    cols.update(gopher_columns(F.col("text")))
    plan = _plan(d.select("doc_id", *[c.alias(k) for k, c in cols.items()]))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "Exchange" not in plan, plan


def test_pdf_blocks_is_one_mapinpandas_pass(spark):
    from textractssmlprocessor_spark.operators.pdf import (
        build_simple_pdf,
        pdf_blocks,
    )

    df = spark.createDataFrame(
        [("u", bytearray(build_simple_pdf([[(72, 720, 12, "x y z.")]])))],
        "url string, payload binary",
    )
    plan = _plan(pdf_blocks(df))
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan


def test_langid_scoring_broadcasts_the_model(spark, sf_dir):
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w, s = train_langid_nb(d, buckets=256)
    plan = _plan(langid_scores(d.limit(50), w, s, buckets=256))
    # the weight table and lang stats must join broadcast, never shuffle
    # the corpus side against them
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_annotate_srt_is_one_python_pass_without_full_outer_joins(spark):
    """srt_variants aligns once and calls the subtitle UDF once per chunk
    for all four variants (no per-variant chains stitched by full-outer
    joins); generate_srt runs the same path with one variant."""
    from textractssmlprocessor_spark.operators.align import generate_srt, srt_variants

    chunks = spark.createDataFrame(
        [("u1", 1, "One. Two.", "<speak>One. Two.</speak>"),
         ("u1", 2, "Three.", "<speak>Three.</speak>"),
         ("u2", 1, "Four.", "")],
        "url string, chunk_number int, extracted_text string, ssml string",
    )
    manifest = chunks.select(
        "url", F.col("chunk_number").alias("part_no"), F.lit(2.0).alias("duration")
    )
    plan = _plan(srt_variants(chunks, manifest))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "FullOuter" not in plan, plan
    plan = _plan(generate_srt(chunks, manifest, "latin", True))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_validate_reads_the_chunk_table_in_one_pass(spark, tmp_path):
    """The nine per-chunk rules are one projection over one scan; only the
    corpus-wide duplicates rule reads the table again (its grouped
    occurrences feed both the first-wins aggregate and the join back)."""
    from textractssmlprocessor_spark.operators.validate import validate

    src = str(tmp_path / "chunks.parquet")
    spark.createDataFrame(
        [("u1", 1, "<speak>One. One.</speak>"), ("u2", 1, "x <speak>é</s>,")],
        "url string, chunk_number int, ssml string",
    ).write.parquet(src)
    plan = _plan(validate(spark.read.parquet(src)))
    assert plan.count("FileScan") <= 3, plan
    assert plan.count("ArrowEvalPython") == 1, plan
