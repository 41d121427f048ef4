"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "docs_per_sec": ...}

The headline metric is the flagship extraction pipeline (documents/sec
extracted, the BASELINE.json target); supporting queries cover the other
heavy operator families (dedup join, ANN scan, validation, SRT assembly).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_passes(spark, passes: dict, rounds: int) -> dict[str, list[float]]:
    """Run each callable in ``passes`` once per round, interleaved (A, B,
    A, B, ...), and return every pass's seconds by name.

    Shared-VM timing noise is 2-4x and intermittent (identical
    back-to-back passes measured 2.45 s vs 10.16 s at steady steal), so
    variants compared in one round sample the same host-noise window.
    Each pass runs in its own ``materialize.scope``: the blocks its cuts
    stored are freed before the next pass, so a timing never depends on
    what ran before it (observed 1.5 s -> 11 s on dedup_minhash_lsh when
    they leaked)."""
    from textractssmlprocessor_spark.materialize import scope

    times: dict[str, list[float]] = {name: [] for name in passes}
    for _ in range(rounds):
        for name, fn in passes.items():
            with scope(spark):
                t0 = time.time()
                fn()
                times[name].append(round(time.time() - t0, 3))
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as entrymod
    from textractssmlprocessor_spark.corpus import pages_from_documents
    from textractssmlprocessor_spark.materialize import cut, scope
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    pages = pages_from_documents(spark, sf_dir)
    n_docs = pages.count()

    # warmup: spin up python workers + JIT before timing
    run_noop(extract_chunks(pages, num_partitions=cores * 2).limit(200))

    def best_of(fn, runs: int = 3) -> float:
        # three draws make a recorded bad noise window unlikely
        return min(timed_passes(spark, {"pass": fn}, runs)["pass"])

    timings: dict[str, float] = {}
    timings["extract_chunks"] = best_of(
        lambda: run_noop(extract_chunks(pages, num_partitions=cores * 2))
    )

    bench_queries = [
        "extract_documents",
        "validate_corpus",
        "split_ssml",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "simhash_groups",
        "ann_topk",
        "embedding_near_dupes",
        "text_profile",
        "running_durations",
        "sessionize_events",
    ]
    qs = entrymod.queries()
    for name in bench_queries:
        timings[name] = best_of(lambda: run_noop(qs[name](spark, sf_dir)))

    extra_queries = [
        "winnow",
        "knn_join",
        "kmeans_centroids",
        "gopher_quality",
        "repetition_stats",
        "url_normalize",
        "curate_corpus",
        "synchronized_texts",
        "redact_pii",
        "contamination",
        "pack_shards",
        "boilerplate_lines",
        "extract_links",
        "dedup_clusters",
        "main_content",
    ]
    timings_extra: dict[str, float] = {}
    for name in extra_queries:
        timings_extra[name] = best_of(lambda: run_noop(qs[name](spark, sf_dir)))

    # SRT assembly benched NET of its extract_chunks upstream, so the srt
    # lines time assembly rather than the extraction UDF. The chunk table is
    # cut and stored ONCE outside the timer, in a scope enclosing the timed
    # passes' own scopes.
    from textractssmlprocessor_spark.operators.align import (
        generate_srt,
        srt_variants,
    )
    from pyspark.sql import functions as F

    with scope(spark):
        chunks = cut(extract_chunks(pages, num_partitions=cores * 2))
        chunks.count()
        manifest = chunks.select(
            "url",
            F.col("chunk_number").alias("part_no"),
            (F.length("extracted_text") * 0.06).alias("duration"),
        )
        timings["srt_generate"] = best_of(
            lambda: run_noop(
                generate_srt(chunks, manifest, "english", use_shorter_subtitles=True)
            )
        )
        timings_extra["srt_variants"] = best_of(
            lambda: run_noop(srt_variants(chunks, manifest))
        )

    # Flagship throughput on a corpus large enough to amortize fixed
    # overhead (the sf tables hold only ~5k docs at sf0.1, which measures
    # job-launch latency more than extraction): 100k synthesized docs with
    # the standard 1% x64 skew tail. Synthesized AFTER the per-query loop
    # so its cached blocks never pressure the query timings; materialized
    # before its own timing starts.
    from textractssmlprocessor_spark.corpus import synthesize_pages

    big = synthesize_pages(spark, 100000).cache()
    n_big = big.count()
    # `cores` partitions: the dense skew tail balances at 1x after url-hash
    # spread; finer fan-out only adds task+shuffle overhead (BENCH/BASELINE)
    flagship_sec = best_of(
        lambda: run_noop(extract_chunks(big, num_partitions=cores)),
        runs=4,
    )
    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_big / flagship_sec, 2)
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_extra": timings_extra,
                "sf": sf,
                "n_docs": n_docs,
                "docs_per_sec": docs_per_sec,
                "flagship_docs": n_big,
                "flagship_sec": flagship_sec,
                "docs_per_sec_sf_tables": round(n_docs / timings["extract_chunks"], 2),
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
