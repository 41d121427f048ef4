"""Chunk-to-audio alignment and SRT generation (reference timestamp.py
create_timestamps lifecycle, SURVEY.md §3.2).

The reference zips chunks and mp3 files positionally in RAM with a running
duration sum (timestamp.py:252-281). Spark restatement:

- positional align (J1) = row_number() over each side's natural order,
  inner join on the index (the inner join IS the reference's truncation
  guard: chunks beyond the last audio part drop);
- running sum (A6) = window sum ordered by part index;
- subtitle explode (X4/X5) = one Arrow-batched UDF call per chunk that
  returns every requested variant's subtitles -> posexplode;
- global subtitle index (J4) = row_number over (chunk order, subtitle order)
  per (project, variant);
- SRT content (K4) = ordered concat of numbered blocks per (project,
  variant), pivoted to one column per variant.

Alignment is per project (the ``url`` column, the reference's per-directory
run), so every window partitions by project — at scale each project's chunk
stream is modest while projects parallelize across the cluster.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ordering import ordered_values
from .udfs import subtitles_udf


def align_chunks_to_audio(chunks: DataFrame, manifest: DataFrame) -> DataFrame:
    """chunks (url, chunk_number, ...) x manifest (url, part_no, duration)
    -> aligned chunks with start_time/end_time."""
    cw = Window.partitionBy("url").orderBy("chunk_number")
    mw = Window.partitionBy("url").orderBy("part_no")
    c = chunks.withColumn("idx", F.row_number().over(cw))
    m = manifest.withColumn("idx", F.row_number().over(mw)).select(
        "url", "idx", "duration"
    )
    joined = c.join(m, on=["url", "idx"], how="inner")
    run = Window.partitionBy("url").orderBy("idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        joined.withColumn("end_time", F.sum("duration").over(run))
        .withColumn("start_time", F.col("end_time") - F.col("duration"))
        .drop("idx")
    )


def explode_subtitles(aligned: DataFrame, variants: Sequence[str]) -> DataFrame:
    """Aligned chunks -> one row per (url, variant, subtitle) with the
    variant's global per-project index (reference timestamp.py:182-206).
    One ``subtitles_udf`` call per chunk covers every name in ``variants``
    (``<language>_<original|shorter>``); each variant's subtitles are
    contiguous in its array, so the array position orders them."""
    subs = aligned.select(
        "url",
        "chunk_number",
        F.posexplode(
            subtitles_udf(
                F.col("ssml"),
                F.col("extracted_text"),
                F.col("start_time"),
                F.col("end_time"),
                F.array(*[F.lit(v) for v in variants]),
            )
        ).alias("sub_pos", "sub"),
    ).select("url", "chunk_number", "sub_pos", "sub.*")
    w = Window.partitionBy("url", "variant").orderBy("chunk_number", "sub_pos")
    return subs.select(
        "url",
        "variant",
        F.row_number().over(w).alias("subtitle_index"),
        "text",
        "start",
        "end",
    )


def _format_time_col(seconds) -> F.Column:
    """HH:MM:SS,mmm with millisecond truncation (timestamp.py:227-231),
    as a native column expression."""
    total = seconds
    hours = F.floor(total / 3600)
    minutes = F.floor((total % 3600) / 60)
    secs = F.floor(total % 60)
    millis = F.floor((total % 1) * 1000)
    # NULL must propagate: format_string renders a NULL arg as the literal
    # string 'null' ("null:null:null,null"), silently corrupting timestamps
    return F.when(
        total.isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.format_string("%02d:%02d:%02d,%03d", hours, minutes, secs, millis)
    )


def _format_time_ms_col(ms) -> F.Column:
    """HH:MM:SS,mmm from INTEGER milliseconds — exact (no float truncation),
    for timestamps that originated as ,mmm text (parse_srt roundtrips)."""
    return F.when(ms.isNull(), F.lit(None).cast("string")).otherwise(
        F.format_string(
            "%02d:%02d:%02d,%03d",
            F.floor(ms / 3600000),
            F.floor((ms % 3600000) / 60000),
            F.floor((ms % 60000) / 1000),
            ms % 1000,
        )
    )


def srt_content(subtitles: DataFrame, from_millis: bool = False) -> DataFrame:
    """(url, variant, srt) — the full SRT document per project and variant,
    assembled with an ordered collect (deterministic; one row per pair).

    ``from_millis=True`` serializes from integer ``start_ms``/``end_ms``
    columns instead of float ``start``/``end`` — byte-exact for timestamps
    parsed from ,mmm text, where the float path's millisecond truncation
    can lose 1 ms to representation error (e.g. 210.695 % 1 -> 0.69499…).
    The float path stays the generation-pipeline semantic (reference
    timestamp.py:227-231 truncates from float sums)."""
    if from_millis:
        start_c, end_c = (
            _format_time_ms_col(F.col("start_ms")),
            _format_time_ms_col(F.col("end_ms")),
        )
    else:
        start_c, end_c = (
            _format_time_col(F.col("start")),
            _format_time_col(F.col("end")),
        )
    block = F.concat(
        F.col("subtitle_index").cast("string"), F.lit("\n"),
        start_c, F.lit(" --> "),
        end_c, F.lit("\n"),
        F.col("text"), F.lit("\n\n"),
    )
    return subtitles.groupBy("url", "variant").agg(
        F.array_join(ordered_values(block, "subtitle_index"), "").alias("srt")
    )


def parse_srt(srt_docs: DataFrame, srt_col: str = "srt") -> DataFrame:
    """SRT scan (S5, reference audio_processing.py:55-87): whole SRT document
    strings -> one row per subtitle (index, start, end, text). Block split,
    time parsing, and validation mirror the reference parser; invalid blocks
    are skipped. Native expressions end-to-end."""
    blocks = F.split(F.trim(F.col(srt_col)), r"\n\s*\n", -1)
    b = srt_docs.select("url", F.explode(blocks).alias("block"))
    parts = F.split("block", "\n", 3)
    time_re = r"(\d{2}:\d{2}:\d{2},\d{3}) --> (\d{2}:\d{2}:\d{2},\d{3})"

    def to_sec(ts):
        sp = F.split(ts, ":")
        return (
            sp[0].cast("double") * 3600
            + sp[1].cast("double") * 60
            + F.regexp_replace(sp[2], ",", ".").cast("double")
        )

    out = b.select(
        "url",
        parts[0].alias("idx_s"),
        parts[1].alias("time_range"),
        F.trim(parts[2]).alias("text"),
    ).filter(
        (F.size(F.split("block", "\n", -1)) >= 3)
        & F.col("time_range").rlike("^" + time_re)
    )
    start_s = F.regexp_extract("time_range", time_re, 1)
    end_s = F.regexp_extract("time_range", time_re, 2)

    def to_ms(ts):
        # exact integer milliseconds straight from the HH:MM:SS,mmm pieces —
        # no float representation error (srt_content(from_millis=True)
        # re-serializes these byte-identically)
        sp = F.split(F.regexp_replace(ts, ",", ":"), ":")
        return (
            sp[0].cast("bigint") * 3600000
            + sp[1].cast("bigint") * 60000
            + sp[2].cast("bigint") * 1000
            + sp[3].cast("bigint")
        )

    return out.select(
        "url",
        F.col("idx_s").cast("int").alias("index"),
        to_sec(start_s).alias("start"),
        to_sec(end_s).alias("end"),
        to_ms(start_s).alias("start_ms"),
        to_ms(end_s).alias("end_ms"),
        "text",
    )


SRT_VARIANTS = (
    "english_original", "english_shorter", "latin_original", "latin_shorter",
)


def generate_srt(
    chunks: DataFrame,
    manifest: DataFrame,
    language: str,
    use_shorter_subtitles: bool,
) -> DataFrame:
    """(url, srt) — one SRT document per project for one variant."""
    variant = f"{language}_{'shorter' if use_shorter_subtitles else 'original'}"
    subs = explode_subtitles(align_chunks_to_audio(chunks, manifest), [variant])
    return srt_content(subs).select("url", "srt")


def srt_variants(chunks: DataFrame, manifest: DataFrame) -> DataFrame:
    """All four reference SRT documents per project (timestamp.py:209-224's
    file set) as one row: english/latin x original/shorter, from one
    alignment and one subtitle UDF call per chunk. A variant that produced
    no subtitles for a project (e.g. empty ssml) is NULL in its column."""
    subs = explode_subtitles(align_chunks_to_audio(chunks, manifest), SRT_VARIANTS)
    return (
        srt_content(subs)
        .groupBy("url")
        .pivot("variant", list(SRT_VARIANTS))
        .agg(F.first("srt"))
    )


def save_srt_files(variants: DataFrame, output_dir: str) -> None:
    """SRT text sink (K4, reference timestamp.py:209-224): writes
    ``<output_dir>/<project>/{english,latin}_{original,shorter}.srt``
    executor-side via foreachPartition (no driver collect); project names
    are percent-encoded to be filesystem-safe.

    Cluster note: writes use plain open() inside foreachPartition, so each
    executor writes to ITS OWN local filesystem — on a multi-node cluster
    output_dir must be a shared mount (NFS/FUSE-mounted object store) for
    the files to be collectable in one place. For pure-Spark targets,
    route payload bytes through a DataFrame write instead.
    """
    def write_partition(it):
        import os
        from urllib.parse import quote

        for r in it:
            d = os.path.join(output_dir, quote(r["url"], safe=""))
            os.makedirs(d, exist_ok=True)
            for name in SRT_VARIANTS:
                if r[name] is not None:
                    with open(
                        os.path.join(d, f"{name}.srt"), "w", encoding="utf-8"
                    ) as f:
                        f.write(r[name])

    variants.foreachPartition(write_partition)
