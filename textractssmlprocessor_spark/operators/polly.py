"""Structural semantics of the reference's Polly batch stage — everything
around the (out-of-scope) AWS network call (reference
ssml_processing.py:62-152, SURVEY.md §3.3):

- per-chunk voice selection with default + unsupported-voice fallback
  (ssml_processing.py:115-118)
- voice -> engine map (Ruth/Matthew -> generative, Gregory -> long-form,
  ssml_processing.py:69-73)
- global part numbering across books in natural order + resume skip
  (ssml_processing.py:91-110 — the reference's checkpoint semantic)
- output naming ``{book}_part{NNN}_{voice}.mp3`` (ssml_processing.py:133)
- per-book part renumbering (ssml_processing.py:182-197)

The actual synthesize_speech call would plug in via foreachPartition on the
result table; a deterministic fake sink is provided for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ordering import blocked_row_number

VOICE_ENGINE_MAP = {
    "Ruth": "generative",
    "Matthew": "generative",
    "Gregory": "long-form",
}


def assign_voices(
    chunks: DataFrame,
    default_voice_id: str = "Matthew",
    voice_col: str = "voice",
    book_col: str = "url",
) -> DataFrame:
    """Adds (voice_id, engine, global_part_number, output_file)."""
    voice_expr = (
        F.coalesce(F.col(voice_col), F.lit(default_voice_id))
        if voice_col in chunks.columns
        else F.lit(default_voice_id)
    )
    supported = list(VOICE_ENGINE_MAP)
    voice = F.when(voice_expr.isin(supported), voice_expr).otherwise(
        F.lit(default_voice_id)
    )
    engine = F.create_map(
        *[F.lit(x) for kv in VOICE_ENGINE_MAP.items() for x in kv]
    )[voice]
    # Global monotone part counter (reference ssml_processing.py:91-110):
    # row_number over (book, chunk_number), each book one block, so no
    # global window funnels the corpus through one task (a NULL book is a
    # block of its own and keeps its rows)
    out = (
        blocked_row_number(chunks, F.col(book_col), ["chunk_number"], out="_part")
        .withColumn("voice_id", voice)
        .withColumn("engine", engine)
        .withColumn("global_part_number", F.col("_part").cast("int"))
        .drop("_part")
    )
    return out.withColumn(
        "output_file",
        F.format_string(
            "%s_part%03d_%s.mp3",
            F.col(book_col),
            F.col("global_part_number"),
            F.col("voice_id"),
        ),
    )


def resume_from_part(assigned: DataFrame, start_part: int = 1) -> DataFrame:
    """Reference resume semantic: skip parts below start_part
    (ssml_processing.py:106-110)."""
    return assigned.filter(F.col("global_part_number") >= start_part)


def renumber_parts_per_book(assigned: DataFrame, book_col: str = "url") -> DataFrame:
    """Re-sequence part numbers from 1 within each book
    (ssml_processing.py:182-197)."""
    w = Window.partitionBy(book_col).orderBy("global_part_number")
    return assigned.withColumn("book_part_number", F.row_number().over(w))


def synthesize_fake(ssml: str, voice_id: str, engine: str) -> bytes:
    """Deterministic stand-in for the Polly synthesize_speech network call
    (reference ssml_processing.py:120-131): a tagged header + md5 of the
    SSML, so tests can assert byte-identity of sink output without AWS."""
    import hashlib

    digest = hashlib.md5(ssml.encode("utf-8")).hexdigest()
    return f"FAKEMP3|{voice_id}|{engine}|{digest}".encode("ascii")


def _safe_filename(name: str) -> str:
    return name.replace("/", "_").replace("\\", "_")


def combine_audio_sink(
    parts: DataFrame,
    output_dir: str,
    book_col: str = "url",
    part_col: str = "book_part_number",
    payload_col: str = "payload",
) -> None:
    """Per-book audio assembly (reference audio_processing.py:94-137
    combine_mp3_files): concatenate each book's part payloads in part order
    into one file per book. MP3 frames are self-delimiting, so byte concat
    IS the reference's semantic (it shells to a concat pipeline); container
    formats needing real remuxing (m4b/mp4) stay out of scope per SURVEY.

    Plan: repartition by book (each book's parts land in ONE partition),
    sortWithinPartitions(book, part), then STREAM the parts into the open
    file inside foreachPartition — one sequential append per part. A
    collect_list + binary-fold formulation would both materialize a whole
    book in a single row AND copy the accumulated payload once per part
    (O(parts^2) bytes: a 500x1MB book would copy ~125 GB); the streaming
    write is linear and never holds more than one part in memory. Books
    parallelize across the cluster.

    Cluster note: writes use plain open() inside foreachPartition, so each
    executor writes to ITS OWN local filesystem — on a multi-node cluster
    output_dir must be a shared mount (NFS/FUSE-mounted object store) for
    the files to be collectable in one place. For pure-Spark targets,
    route payload bytes through a DataFrame write instead.
    """
    ordered = parts.select(book_col, part_col, payload_col).repartition(
        F.col(book_col)
    ).sortWithinPartitions(book_col, part_col)

    def write_partition(it):
        import os

        os.makedirs(output_dir, exist_ok=True)
        # distinct sentinel: a NULL book key must still open a file (None
        # as the sentinel would never trigger the first open)
        _unopened = object()
        open_book, fh = _unopened, None
        for r in it:
            if r[book_col] != open_book or open_book is _unopened:
                if fh is not None:
                    fh.close()
                open_book = r[book_col]
                name = "NULL" if open_book is None else _safe_filename(open_book)
                fh = open(os.path.join(output_dir, name + ".mp3"), "wb")
            if r[payload_col] is not None:
                fh.write(bytes(r[payload_col]))
        if fh is not None:
            fh.close()

    ordered.foreachPartition(write_partition)


def polly_sink(assigned: DataFrame, output_dir: str, synthesize=None) -> None:
    """Pluggable audio sink: one file per chunk named ``output_file``
    (reference ssml_processing.py:133 naming), written executor-side via
    foreachPartition — rows never collect to the driver, each partition
    streams its own synthesize calls (this is where the real
    boto3 polly.synthesize_speech plugs in; per-partition client reuse,
    the standard pattern for network sinks). Default ``synthesize`` is the
    deterministic fake.

    Cluster note: writes use plain open() inside foreachPartition, so each
    executor writes to ITS OWN local filesystem — on a multi-node cluster
    output_dir must be a shared mount (NFS/FUSE-mounted object store) for
    the files to be collectable in one place. For pure-Spark targets,
    route payload bytes through a DataFrame write instead.
    """
    fn = synthesize or synthesize_fake
    rows = assigned.select("output_file", "ssml", "voice_id", "engine")

    def write_partition(it):
        import os

        os.makedirs(output_dir, exist_ok=True)
        for r in it:
            data = fn(r["ssml"], r["voice_id"], r["engine"])
            path = os.path.join(output_dir, _safe_filename(r["output_file"]))
            with open(path, "wb") as f:
                f.write(data)

    rows.foreachPartition(write_partition)
