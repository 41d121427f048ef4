"""Textract/OCR block-to-line reconstruction + page-layout boilerplate rules.

The reference consumes already-linearized OCR text (reference README.md:3,9
— "Textract" refers to AWS-Textract-style output; no Textract API code is in
the repo). The north star requires the reconstruction step itself, so this
module implements it Spark-native over a blocks table:

    (url, page_no, block_id, left, top, width, height, text)

- blocks group into visual lines by quantized top coordinate (same
  line-height band => same line), ordered left-to-right;
- lines order top-to-bottom per page, pages in order => document text;
- page-number boilerplate (digit-only lines) and repeated header/footer
  lines (same text appearing on most pages at extreme top/bottom) drop
  before linearization.

Everything is window/groupBy composition — no UDFs, fully codegen'd, and the
only shuffles key on (url) / (url, page_no, line_no): high-cardinality by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import WS_CLASS, WS_ESC

LINE_BAND = 0.02  # vertical quantization: blocks within 2% page height align


def blocks_to_lines(blocks: DataFrame, line_band: float = LINE_BAND) -> DataFrame:
    """(url, page_no, line_no, line_text, top): reconstruct reading-order
    lines from positioned blocks."""
    banded = blocks.withColumn(
        "line_key", F.floor(F.col("top") / F.lit(line_band)).cast("bigint")
    )
    lines = (
        banded.groupBy("url", "page_no", "line_key")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("left").alias("l"),
                                F.col("block_id").alias("b"),
                                F.col("text").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("line_text"),
            F.min("top").alias("top"),
        )
    )
    w = Window.partitionBy("url", "page_no").orderBy("line_key")
    return lines.select(
        "url",
        "page_no",
        F.row_number().over(w).cast("bigint").alias("line_no"),
        "line_text",
        "top",
    )


# Shared with the DuckDB oracle via import (__spark_entry__.py) — the
# em dash must not be hand-pasted into two engines' patterns (CLAUDE.md
# non-ASCII convention). Uppercase folios (IV, XII) match too.
FOLIO_RE = (
    rf"^{WS_CLASS}*[-—.{WS_ESC}]*"
    rf"(\d+|[ivxlcdmIVXLCDM]+)[-—.{WS_ESC}]*{WS_CLASS}*$"
)


def is_page_number_line(col) -> F.Column:
    """Pure page-number boilerplate SHAPE: optional dashes/dots around
    digits or bare roman-numeral folios. The letter class necessarily
    matches real words that are valid roman numerals ('mix' = 1009), so
    strip_page_boilerplate applies this only inside the page-edge bands
    where folios live — a body line is never deleted for matching."""
    return col.rlike(FOLIO_RE)


def strip_page_boilerplate(
    lines: DataFrame,
    header_top: float = 0.08,
    footer_top: float = 0.9,
    min_page_fraction: float = 0.5,
) -> DataFrame:
    """Drop page-number lines everywhere, plus header/footer lines: text in
    the extreme top/bottom band repeating on >= min_page_fraction of the
    document's pages (the classic running-head detector). The repeat counts
    are a per-(url, text) aggregation broadcast back via join."""
    in_edge = (F.col("top") <= header_top) | (F.col("top") >= footer_top)
    # folio strip only in the edge bands: the roman class matches real
    # words ('mix', 'di'), so a matching BODY line must survive
    lines = lines.filter(~(is_page_number_line(F.col("line_text")) & in_edge))
    n_pages = lines.groupBy("url").agg(
        F.countDistinct("page_no").alias("n_pages")
    )
    edge = lines.filter(in_edge)
    repeats = (
        edge.groupBy("url", "line_text")
        .agg(F.countDistinct("page_no").alias("n_occ"))
        .join(n_pages, "url")
        # n_occ >= 2: a line must actually REPEAT — on 1-2 page documents
        # n_pages * 0.5 <= 1 would otherwise strip every unique edge line
        .filter(
            (F.col("n_occ") >= F.col("n_pages") * min_page_fraction)
            & (F.col("n_occ") >= 2)
        )
        .select("url", "line_text", F.lit(True).alias("is_boiler"))
    )
    out = lines.join(repeats, ["url", "line_text"], "left")
    return out.filter(
        ~(
            F.col("is_boiler").isNotNull()
            & ((F.col("top") <= header_top) | (F.col("top") >= footer_top))
        )
    ).drop("is_boiler")


def linearize(lines: DataFrame) -> DataFrame:
    """(url, text): assemble cleaned lines back into one document string in
    (page_no, line_no) order."""
    return (
        lines.groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("page_no").alias("p"),
                                F.col("line_no").alias("l"),
                                F.col("line_text").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                "\n",
            ).alias("text")
        )
    )


def reconstruct_documents(blocks: DataFrame) -> DataFrame:
    """Full OCR path: blocks -> lines -> boilerplate strip -> document text.

    The line table is referenced three times downstream (page counts,
    edge-repeat detection, and the output join), so Spark re-executes the
    blocks input per reference — free for a parquet blocks table (three
    column-pruned scans), but a 3x re-parse when blocks come from an
    expensive producer like :func:`pdf.pdf_blocks`. Such a caller passes
    ``materialize.cut(blocks)`` so the producer runs ONCE."""
    return linearize(strip_page_boilerplate(blocks_to_lines(blocks)))
