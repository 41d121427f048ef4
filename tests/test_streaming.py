"""Streaming: micro-batch extraction equals the batch pipeline; watermarked
window agg equals the batch window agg; restart resumes exactly-once."""

from __future__ import annotations

from pyspark.sql import functions as F

from textractssmlprocessor_spark.corpus import pages_from_documents
from textractssmlprocessor_spark.operators.extract import extract_chunks
from textractssmlprocessor_spark.streaming.extract_stream import (
    extract_stream,
    stream_pages,
    windowed_event_counts,
)


def test_stream_extraction_matches_batch(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = pages_from_documents(spark, sf_dir)
    pages.write.mode("overwrite").parquet(landing)

    q = extract_stream(
        stream_pages(spark, landing), out, ckpt, num_partitions=8
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    expected = extract_chunks(spark.read.parquet(landing), num_partitions=8)
    assert got.count() == expected.count()
    # byte-identical content, order-insensitive
    key = lambda df: {  # noqa: E731
        (r["url"], r["chunk_number"]): (r["extracted_text"], r["ssml"])
        for r in df.collect()
    }
    assert key(got) == key(expected)

    # restart with the same checkpoint: no new data -> no duplicate output
    q2 = extract_stream(stream_pages(spark, landing), out, ckpt, num_partitions=8)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == expected.count()


def test_windowed_event_counts_matches_batch(spark, sf_dir, tmp_path):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # file stream source needs a directory of files
    events_dir = str(tmp_path / "events")
    batch.write.mode("overwrite").parquet(events_dir)
    batch = spark.read.parquet(events_dir)

    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    windowed = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has passed; every emitted
    # row must match the batch computation exactly
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from win_counts").collect()
    }
    expected_df = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
    )
    expected = {
        (r["ws"], r["event_type"]): (r["n"], round(r["s"], 6))
        for r in expected_df.collect()
    }
    assert got, "watermark emitted no windows"
    for k, v in got.items():
        assert expected[k] == v, k


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization == batch window sessionization.

    Three parquet drops processed one file per trigger: the real events,
    then two far-future sentinel events. The sentinels advance the
    watermark so every real session's event-time timeout fires before the
    availableNow query drains."""
    import time as _time

    from textractssmlprocessor_spark.streaming.sessionize import (
        sessionize_events_batch,
        sessionize_events_stream,
    )

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "value")
    )
    landing = str(tmp_path / "ev")
    events.coalesce(1).write.mode("overwrite").parquet(landing)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    for i, days in enumerate((10, 11)):
        _time.sleep(1.1)  # file-source orders by modification time
        spark.createDataFrame(
            [(-(i + 1), max_ts + __import__("datetime").timedelta(days=days),
              -1, 0.0)],
            "event_id long, ts timestamp, user_id long, value double",
        ).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sessions = sessionize_events_stream(stream, gap="30 minutes", watermark="1 minute")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["session_start"], r["session_end"]):
            (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from sessions_out").collect()
        if r["user_id"] != -1
    }
    expected = {
        (r["user_id"], r["session_start"], r["session_end"]):
            (r["n_events"], round(r["sum_value"], 6))
        for r in sessionize_events_batch(events, 1800.0).collect()
    }
    assert got, "no sessions emitted"
    assert got == expected


def test_sessionize_out_of_order_arrival(spark, tmp_path):
    """Events arriving in non-chronological batches must not produce
    gap-violating sessions (regression: an event older than the open
    session's start used to merge unconditionally, welding two sessions
    across a > gap span)."""
    import datetime as dt
    import time as _time

    from textractssmlprocessor_spark.streaming.sessionize import (
        sessionize_events_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, value double"
    landing = str(tmp_path / "ev")
    # deliberately out of chronological order: the 00:50 event lands first
    drops = [
        [(3, t0 + dt.timedelta(minutes=50), 7, 4.0)],
        [(1, t0, 7, 1.0), (2, t0 + dt.timedelta(minutes=10), 7, 2.0)],
        [(9, t0 + dt.timedelta(days=9), -1, 0.0)],
        [(8, t0 + dt.timedelta(days=10), -1, 0.0)],
    ]
    for rows in drops:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        _time.sleep(1.2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        sessionize_events_stream(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("ooo_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql(
            "select * from ooo_sessions where user_id = 7"
        ).collect()
    )
    # within-watermark reordering must still yield the exact batch sessions
    assert got == [
        (t0, t0 + dt.timedelta(minutes=10), 2, 3.0),
        (t0 + dt.timedelta(minutes=50), t0 + dt.timedelta(minutes=50), 1, 4.0),
    ]


def test_sessionize_stream_null_handling(spark, tmp_path):
    """NULL values sum as 0 (like F.sum) and NULL ts rows drop in both
    forms. (Pre-1970 event times are untestable in the stream: Spark's
    watermark floors at epoch 0 and evicts sub-watermark rows before the
    state function — documented engine limitation.)"""
    import datetime as dt
    import time as _time

    from textractssmlprocessor_spark.streaming.sessionize import (
        sessionize_events_batch,
        sessionize_events_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, value double"
    landing = str(tmp_path / "ev")
    drops = [
        [(1, t0, 5, 2.0), (2, t0 + dt.timedelta(minutes=5), 5, None),
         (3, None, 5, 9.0)],
        [(9, t0 + dt.timedelta(days=9), -1, 0.0)],
        [(8, t0 + dt.timedelta(days=10), -1, 0.0)],
    ]
    for rows in drops:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        _time.sleep(1.2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        sessionize_events_stream(stream, gap="30 minutes", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("null_handling")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [
        (r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.sql(
            "select * from null_handling where user_id = 5"
        ).collect()
    ]
    expected = [
        (r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize_events_batch(
            spark.createDataFrame(drops[0], schema)
        ).collect()
    ]
    # one session: 2 events (null-ts row dropped), null value adds 0
    assert expected == [(t0, t0 + dt.timedelta(minutes=5), 2, 2.0)]
    assert got == expected


def test_stream_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A replayed foreachBatch invocation (same batch_id, e.g. after a crash
    between data write and checkpoint commit) must overwrite its own output,
    not append a duplicate copy."""
    from textractssmlprocessor_spark.corpus import pages_from_documents
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.streaming.extract_stream import (
        extract_stream,
        stream_pages,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    pages = pages_from_documents(spark, sf_dir).limit(50)
    pages.write.mode("overwrite").parquet(landing)

    q = extract_stream(stream_pages(spark, landing), out, str(tmp_path / "c1"),
                       num_partitions=4)
    q.awaitTermination(120)
    expected = spark.read.parquet(out).count()
    assert expected > 0

    # simulate a replay of batch 0: fresh checkpoint, same output path ->
    # the same batch_id partition is overwritten, not appended
    q2 = extract_stream(stream_pages(spark, landing), out, str(tmp_path / "c2"),
                        num_partitions=4)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == expected


def test_sessionize_batch_all_null_values_sum_zero(spark):
    import datetime as dt

    from textractssmlprocessor_spark.streaming.sessionize import (
        sessionize_events_batch,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 9, None), (2, t0 + dt.timedelta(minutes=1), 9, None)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = sessionize_events_batch(df).collect()
    assert len(rows) == 1 and rows[0]["sum_value"] == 0.0  # not NULL


def test_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming exact dedup == batch dedup_exact when all data arrives in
    one trigger (min-id survivor per fingerprint), over the real corpus
    plus planted exact copies."""
    from textractssmlprocessor_spark.operators.dedup import dedup_exact
    from textractssmlprocessor_spark.streaming.dedup_stream import (
        dedup_exact_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dupes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dupes)
    landing = str(tmp_path / "docs")
    corpus.coalesce(1).write.mode("overwrite").parquet(landing)

    stream = spark.readStream.schema("doc_id long, text string").parquet(landing)
    q = (
        dedup_exact_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["fingerprint"], r["keep_id"])
        for r in spark.sql("select * from dedup_out").collect()
    }
    expected = {
        (r["fingerprint"], r["keep_id"])
        for r in dedup_exact(corpus).filter(F.col("fingerprint").isNotNull()).collect()
    }
    assert got and got == expected


def test_dedup_stream_arrival_order_and_restart(spark, tmp_path):
    """Cross-batch semantics: the FIRST arrival wins even against a lower
    id in a later batch; repeats emit nothing; a checkpoint restart with no
    new data emits nothing (exactly-once)."""
    import time as _time

    from textractssmlprocessor_spark.streaming.dedup_stream import (
        dedup_exact_stream,
    )

    landing = str(tmp_path / "docs")
    spark.createDataFrame(
        [(5, "same words here")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(landing)
    _time.sleep(1.1)  # file-source orders by modification time
    spark.createDataFrame(
        [(3, "same words here"), (9, "brand new content")],
        "doc_id long, text string",
    ).write.mode("append").parquet(landing)

    out = str(tmp_path / "out")

    def run():
        # parquet sink: the memory sink cannot recover from a checkpoint,
        # and the restart leg is the point of this test
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        q = (
            dedup_exact_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["keep_id"] for r in spark.read.parquet(out).collect()}

    assert run() == {5, 9}  # id 5 arrived first; the later id 3 is a repeat
    assert run() == {5, 9}  # restart, no new files: nothing re-emitted


# --- streaming near-dup gate (streaming/dedup_near_stream.py) ---------------


def _near_corpus(spark, lo, hi, copies_of=()):
    from pyspark.sql import functions as F

    base = spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"w{j}tok"), F.col("id").cast("string")) for j in range(40)],
        ).alias("text"),
    )
    if copies_of:
        near = spark.createDataFrame(
            [(src + 1000, src) for src in copies_of], "doc_id bigint, src bigint"
        )
        copies = (
            base.select(F.col("doc_id").alias("src"), "text")
            .join(near, "src")
            .select("doc_id", F.concat("text", F.lit(" tail")).alias("text"))
        )
        return copies
    return base


def test_near_dedup_batches_gate_against_history(spark, tmp_path, persistent_rdds):
    from textractssmlprocessor_spark.streaming.dedup_near_stream import (
        process_near_dedup_batch,
    )

    hist = str(tmp_path / "hist")
    surv = str(tmp_path / "surv")
    b0 = _near_corpus(spark, 0, 10)
    # batch 1: near-copies of docs 0-2 (ids 1000-1002), fresh 13/14, and an
    # intra-batch near pair (15 and its copy 1015)
    b1 = (
        _near_corpus(spark, 13, 16)
        .unionByName(_near_corpus(spark, 0, 10, copies_of=(0, 1, 2)))
        .unionByName(_near_corpus(spark, 0, 16, copies_of=(15,)))
    )
    before = persistent_rdds()
    process_near_dedup_batch(b0, 0, hist, surv)
    process_near_dedup_batch(b1, 1, hist, surv)
    # each batch releases the signature cut it took: no block outlives it
    # (compared as "nothing added": driver GC may meanwhile clean blocks
    # an earlier test leaked outside any scope)
    assert persistent_rdds() - before == set()
    got0 = {r["doc_id"] for r in spark.read.parquet(f"{surv}/batch-0").collect()}
    got1 = {r["doc_id"] for r in spark.read.parquet(f"{surv}/batch-1").collect()}
    assert got0 == set(range(10))
    # history near-copies die; fresh 13/14 live; intra-batch pair keeps min
    assert got1 == {13, 14, 15}
    # replaying batch 1 (crash-recovery path) is idempotent
    process_near_dedup_batch(b1, 1, hist, surv)
    again = {r["doc_id"] for r in spark.read.parquet(f"{surv}/batch-1").collect()}
    assert again == got1


def test_near_dedup_streaming_query_runs(spark, tmp_path):
    import glob

    from textractssmlprocessor_spark.streaming.dedup_near_stream import (
        dedup_near_stream,
    )

    src = str(tmp_path / "in")
    _near_corpus(spark, 0, 8).unionByName(
        _near_corpus(spark, 0, 8, copies_of=(3,))
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = dedup_near_stream(
        stream,
        history_dir=str(tmp_path / "hist"),
        survivors_dir=str(tmp_path / "surv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    out = set()
    for p in glob.glob(str(tmp_path / "surv" / "batch-*")):
        out |= {r["doc_id"] for r in spark.read.parquet(p).collect()}
    assert out == set(range(8))  # the near-copy of 3 (id 1003) is gone
    assert glob.glob(str(tmp_path / "hist" / "batch-*"))
