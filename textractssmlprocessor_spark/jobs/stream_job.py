"""spark-submit entrypoint for streaming extraction into a snapshot table.

    spark-submit --py-files textractssmlprocessor_spark.zip \
        textractssmlprocessor_spark/jobs/stream_job.py \
        --input <pages landing dir (parquet drops)> \
        --table <snapshot table root> \
        --checkpoint <streaming checkpoint dir> \
        [--prefix <idempotency prefix>] [--languages en,la] \
        [--partitions 512] [--continuous]

The incremental sibling of extract_job.py: a crawler appends parquet
drops to the landing dir; each run drains whatever is new (trigger
availableNow — the incremental-batch-job mode; --continuous keeps the
micro-batch query running instead), runs the SAME fused extraction as
the batch pipeline per micro-batch, and lands each batch as one atomic
snapshot commit. Spark's streaming checkpoint decides what is "new";
the snapshot_id = (prefix, batch_id) marker makes a replayed batch a
no-op, so crash/rerun delivery is exactly-once at the table.
Downstream consumers read incrementally with snapshots.read_changes
(remember the version you processed, diff from there) and a
maintenance cadence of snapshots.compact + expire_snapshots keeps the
file count bounded.

``--prefix`` defaults to a hash of the checkpoint dir's ABSOLUTE path
(printed at startup) — unique per checkpoint location as
batch_snapshot_id requires, even when two checkpoints share a
basename. CAUTION: deleting the checkpoint to reprocess restarts batch
ids at 0 under the SAME default prefix, and every reprocessed batch
would no-op against the old commits — when you reset a checkpoint,
pass a fresh --prefix (or target a fresh table).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def default_prefix(checkpoint_path: str) -> str:
    """Hash of the checkpoint's absolute path: unique per checkpoint
    LOCATION (basenames collide: /jobA/ckpt vs /jobB/ckpt). A reset
    checkpoint at the same path keeps the same prefix — see the module
    docstring's caution."""
    abspath = os.path.abspath(checkpoint_path)
    return "ck" + hashlib.md5(abspath.encode("utf-8")).hexdigest()[:12]


def _setup_paths() -> None:
    """Same contract as extract_job._setup_paths (workers need PYTHONPATH
    exported before the session exists)."""
    sys.path.insert(0, _REPO_ROOT)
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def main() -> None:
    _setup_paths()
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages landing dir")
    p.add_argument("--table", required=True, help="snapshot table root")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--prefix", default=None)
    p.add_argument("--languages", default=None)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--continuous", action="store_true",
                   help="keep the micro-batch query running (default: "
                   "drain available input and exit)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from textractssmlprocessor_spark import snapshots
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.session import ENGINE_CONF
    from textractssmlprocessor_spark.streaming.extract_stream import stream_pages
    from textractssmlprocessor_spark.streaming.snapshot_sink import (
        batch_snapshot_id,
    )

    builder = SparkSession.builder.appName("stream-extract-webtext").config(
        map=ENGINE_CONF
    )
    if args.partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.partitions)
        )
    spark = builder.getOrCreate()

    langs = args.languages.split(",") if args.languages else None
    prefix = args.prefix or default_prefix(args.checkpoint)
    print(f"snapshot_id prefix: {prefix}")

    def body(batch_df, batch_id):
        chunks = extract_chunks(
            batch_df,
            languages=langs,
            num_partitions=args.partitions or 32,
        )
        version = snapshots.commit(
            chunks, args.table, batch_snapshot_id(prefix, batch_id)
        )
        print(f"batch {batch_id} -> snapshot version {version}")

    stream = stream_pages(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger
    )
    writer = (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("update")
    )
    if not args.continuous:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    print(
        f"stream drained: table at version "
        f"{snapshots.current_version(args.table)}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
