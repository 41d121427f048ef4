"""Streaming NEAR-duplicate gate: admit each document only if it does not
MinHash-band-collide with anything admitted before it — the streaming form
of the incremental cross-pass gate (dedup.near_dupes_against_history), for
pipelines that ingest a crawl as it lands instead of in passes.

Architecture: ``foreachBatch`` + an accumulating band table, NOT a
state-store operator. The reasons are the production ones:

- The band table IS the cross-pass history artifact
  (dedup.minhash_band_table's (id, bucket) shape) — batch passes and the
  stream share one store, so a corpus bootstrapped in batch continues
  streaming without state migration, and vice versa.
- A per-bucket state-store flag could only answer "was this single band
  seen"; admitting a document needs ALL its bands checked together plus
  first-wins WITHIN the micro-batch — a join + aggregation, which is
  exactly what the batch operators already do correctly. foreachBatch
  runs them verbatim; semantics cannot drift between stream and batch.
- State-store near-dup state is unbounded anyway (every admitted doc
  keeps bands forever); a parquet/Iceberg band table is the same bytes
  with table-format compaction, TTL-by-partition, and auditability.

Exactly-once: every batch writes its band-table delta and its survivors
under ``batch-<id>`` subdirectories (mode=overwrite). A replayed batch
(post-crash, same epoch id) overwrites its own output instead of
double-appending — the idempotent-sink discipline lineage.py uses for
batch reruns. Within-batch candidate semantics: a batch is first gated
against the accumulated history, then near-dup'd AGAINST ITSELF with the
verified pair operator (minhash_lsh_pairs -> min-id survivor), so two
near-copies arriving in one trigger admit exactly one — matching what the
batch pipeline would have done with the same data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _history_paths(spark, root: str, before_batch: int) -> list[str]:
    """Band-table epochs STRICTLY EARLIER than the current batch id. A
    replayed batch must not gate against its own previously-written bands
    (it would drop every one of its documents as 'seen'); filtering by
    epoch makes replays idempotent rather than self-poisoning. Listing
    goes through the Hadoop FileSystem API (fsutil) so a history dir on
    hdfs://s3a:// lists exactly like a local one — os.listdir would see
    the driver's disk only and silently forget all history at scale."""
    from textractssmlprocessor_spark.fsutil import fs_list_names

    out = []
    for n in fs_list_names(spark, root):
        if n.startswith("batch-"):
            try:
                if int(n.split("-", 1)[1]) < before_batch:
                    out.append(os.path.join(root, n))
            except ValueError:
                continue
    return sorted(out)


def process_near_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    history_dir: str,
    survivors_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **band_kwargs,
) -> None:
    """The foreachBatch body (importable and unit-testable without a
    streaming query): gate ``batch`` against the accumulated band table,
    self-dedup the remainder, persist survivors + their bands."""
    from textractssmlprocessor_spark.materialize import scope
    from textractssmlprocessor_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        near_dupes_against_history,
    )

    spark = batch.sparkSession
    batch = batch.select(id_col, text_col)

    hist_paths = _history_paths(spark, history_dir, batch_id)
    have_history = bool(hist_paths)
    if have_history:
        history = spark.read.parquet(*hist_paths)
    fresh = (
        near_dupes_against_history(
            batch, history, id_col=id_col, text_col=text_col, **band_kwargs
        )
        if have_history
        else batch
    )
    # one scope per batch: the signature cut minhash_lsh_pairs takes is
    # released once both writes have read it
    with scope(spark):
        # within-batch near-dups: verified pairs -> min-id survivor (the batch
        # operators verbatim, so stream==batch by construction)
        pairs = minhash_lsh_pairs(
            fresh, id_col=id_col, text_col=text_col, **band_kwargs
        )
        losers = (
            pairs.select(
                F.greatest(F.col("id_a"), F.col("id_b")).alias(id_col)
            ).distinct()
        )
        survivors = fresh.join(losers, id_col, "left_anti")
        # idempotent per-batch outputs: a replay overwrites its own epoch
        survivors.write.mode("overwrite").parquet(
            os.path.join(survivors_dir, f"batch-{batch_id}")
        )
        minhash_band_table(
            survivors, id_col=id_col, text_col=text_col, **band_kwargs
        ).write.mode("overwrite").parquet(
            os.path.join(history_dir, f"batch-{batch_id}")
        )


def dedup_near_stream(
    docs: DataFrame,
    history_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **band_kwargs,
):
    """Wire the gate onto a streaming DataFrame. Returns the started
    StreamingQuery; survivors land under ``survivors_dir/batch-<id>``,
    the accumulating band history under ``history_dir/batch-<id>``."""

    def body(b: DataFrame, bid: int) -> None:
        process_near_dedup_batch(
            b, bid, history_dir, survivors_dir,
            id_col=id_col, text_col=text_col, **band_kwargs,
        )

    return (
        docs.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
