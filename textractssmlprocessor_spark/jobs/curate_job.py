"""spark-submit entrypoint for the corpus-curation pipeline.

    spark-submit --py-files textractssmlprocessor_spark.zip \
        textractssmlprocessor_spark/jobs/curate_job.py \
        --input  <documents parquet path> \
        --manifest <curation manifest output path> \
        [--kept-output <filtered corpus output path>] \
        [--languages en,la] [--near-dup] [--threshold 0.8] \
        [--partitions 16384]

On a multi-executor cluster add ``--conf spark.checkpoint.dir=<shared
path>``: every plan cut then goes to a reliable checkpoint in that store
and survives executor loss (see ``build_manifest``).

Stages (each a documented operator, composed here):
1. `curate.curate_corpus` — language allowlist -> Gopher quality rules ->
   exact-dedup survivorship; per-doc verdict rows (kept, drop_reason).
2. optional `--near-dup`: `graph.dedup_clusters` (MinHash+LSH pairs ->
   large-star/small-star connected components) over the stage-1 keepers;
   non-representative cluster members drop with reason 'near_duplicate'.
3. manifest write (the audit artifact: one row per input doc, never
   filtered away), plus optional filtered-corpus write of the keepers.
4. optional `--sequences-output`: the trainer handoff — BPE merges
   trained ON the kept corpus, map-side tokenization to ids, and
   fixed-`--seq-len` (seq_id, token_ids) sequence assembly, with the
   merges table written alongside so the trainer can reproduce the
   tokenizer.

The manifest-first design is what makes reruns and audits tractable at
10^12 docs: the drop decision is data, joinable and diffable, instead of
an absence of rows. Same code runs on local[N] and a multi-executor
cluster (all writes go through DataFrame writers — no local-filesystem
sink in this job).
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _setup_paths() -> None:
    """Same dual-resolution dance as extract_job (jobs/ vs --py-files zip);
    PYTHONPATH exported so JVM-spawned Python workers can unpickle UDFs.
    Called only from script entry — importing this module must not mutate
    process-global state."""
    sys.path.insert(0, _REPO_ROOT)
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def build_manifest(
    docs,
    languages=None,
    near_dup: bool = False,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    url_col=None,
    max_per_host=None,
    dsir_target=None,
    dsir_min=None,
    dsir_buckets: int = 10000,
    history_fingerprints=None,
    history_bands=None,
    c4: bool = False,
    langid_labeled=None,
    langid_allow=None,
    langid_buckets: int = 2048,
):
    """Compose the curation verdicts; importable and unit-testable without
    spark-submit. Returns (id, kept, drop_reason) — total over the input.
    Stage order (each optional stage sees only prior keepers): incremental
    history gates FIRST (cheapest drops: 'seen_exact' via the Bloom
    sketch-then-verify against ``history_fingerprints``, a 1-column
    fingerprint table from prior passes; 'seen_near' via the MinHash band
    probe against ``history_bands``, the (id, bucket) table
    dedup.minhash_band_table persists per pass) -> language/Gopher/
    exact-dedup -> C4 line/page rules ('c4', map-side, Raffel et al.
    2020) -> trained NB lang-ID allowlist ('language_model', needs
    ``langid_labeled`` — a labeled table to fit langid.train_langid_nb
    on — plus the ``langid_allow`` list; this is the gate for corpora
    WITHOUT a lang column, where curate_corpus's allowlist can't run) ->
    per-host cap ('host_cap', needs ``url_col`` + ``max_per_host``) ->
    near-dup CC ('near_duplicate') -> DSIR target-likeness floor
    ('dsir_low', needs ``dsir_target`` + ``dsir_min``).

    Every intermediate a later stage re-reads (the carried manifest, the
    MinHash signatures, the CC edge rounds) is cut with
    ``materialize.cut``, which follows the session: local checkpoints by
    default, reliable checkpoints when a checkpoint dir is set. A
    multi-executor cluster should set one (``spark-submit --conf
    spark.checkpoint.dir=<shared path>``) so a single executor loss
    doesn't kill the job. The returned manifest reads the last cut, so
    call and consume it inside one ``materialize.scope``."""
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark import materialize
    from textractssmlprocessor_spark.operators.curate import curate_corpus
    from textractssmlprocessor_spark.operators.graph import dedup_clusters

    manifest = curate_corpus(
        docs, id_col=id_col, text_col=text_col, lang_col=lang_col,
        languages=languages,
    )
    # Per-stage plan truncation (graph.py's per-round discipline): every
    # optional stage below references the carried manifest twice (the
    # keepers() join feeding the stage + the apply_drops join updating the
    # verdicts), so an uncut logical plan doubles per enabled stage —
    # ~2^6 with all six on. Cutting AFTER each enabled stage keeps the
    # analyzed plan linear in stage count.
    n_stages = sum(
        1 for on in (history_fingerprints is not None, history_bands is not None,
                     c4, langid_labeled is not None and bool(langid_allow),
                     bool(max_per_host and url_col), near_dup,
                     dsir_target is not None and dsir_min is not None) if on
    )

    def cut(df):
        return materialize.cut(df) if n_stages > 1 else df

    def keepers():
        return docs.join(
            manifest.filter(F.col("kept")).select(F.col("id").alias(id_col)),
            id_col,
        )

    def apply_drops(drop_ids, reason):
        drops = drop_ids.select(
            F.col(id_col).alias("id"), F.lit(True).alias("_hit")
        ).distinct()
        return (
            manifest.join(drops, "id", "left")
            .select(
                "id",
                (F.col("kept") & F.col("_hit").isNull()).alias("kept"),
                F.coalesce(
                    F.col("drop_reason"),
                    F.when(F.col("_hit"), F.lit(reason)),
                ).alias("drop_reason"),
            )
        )

    if history_fingerprints is not None:
        from textractssmlprocessor_spark.operators.delta import (
            new_against_history_bloom,
        )

        k = keepers()
        fresh = new_against_history_bloom(
            k, history_fingerprints, id_col=id_col, text_col=text_col
        ).select(id_col)
        seen = k.select(id_col).join(fresh, id_col, "left_anti")
        manifest = cut(apply_drops(seen, "seen_exact"))

    if history_bands is not None:
        from textractssmlprocessor_spark.operators.dedup import (
            near_dupes_against_history,
        )

        k = keepers()
        fresh = near_dupes_against_history(
            k, history_bands, id_col=id_col, text_col=text_col
        ).select(id_col)
        seen = k.select(id_col).join(fresh, id_col, "left_anti")
        manifest = cut(apply_drops(seen, "seen_near"))

    if c4:
        from textractssmlprocessor_spark.operators.content import c4_line_columns

        k = keepers()
        bad = (
            k.select(
                id_col,
                c4_line_columns(F.col(text_col))["c4_keep"].alias("_c4"),
            )
            .filter(F.col("_c4") == 0)
            .select(id_col)
        )
        manifest = cut(apply_drops(bad, "c4"))

    if langid_labeled is not None and langid_allow:
        from textractssmlprocessor_spark.operators.langid import (
            langid_scores,
            train_langid_nb,
        )

        weights, stats = train_langid_nb(
            langid_labeled, label_col=lang_col, id_col=id_col,
            text_col=text_col, buckets=langid_buckets,
        )
        k = keepers()
        bad = (
            langid_scores(k, weights, stats, id_col=id_col,
                          text_col=text_col, buckets=langid_buckets)
            .filter(~F.col("lang_model_pred").isin(list(langid_allow)))
            .select(F.col("id").alias(id_col))
        )
        manifest = cut(apply_drops(bad, "language_model"))

    if max_per_host and url_col:
        from textractssmlprocessor_spark.operators.weburl import cap_per_host

        k = keepers()
        survivors = cap_per_host(
            k, max_per_host, url_col=url_col, id_col=id_col
        ).select(id_col)
        over = k.select(id_col).join(survivors, id_col, "left_anti")
        manifest = cut(apply_drops(over, "host_cap"))

    if near_dup:
        near_drops = (
            dedup_clusters(keepers(), id_col=id_col, text_col=text_col,
                           threshold=threshold)
            .filter(~F.col("is_survivor"))
            .select(F.col("doc_id").alias(id_col))
        )
        manifest = cut(apply_drops(near_drops, "near_duplicate"))

    if dsir_target is not None and dsir_min is not None:
        from textractssmlprocessor_spark.operators.dsir import dsir_scores

        low = (
            dsir_scores(keepers(), dsir_target, id_col=id_col,
                        text_col=text_col, buckets=dsir_buckets)
            .filter(F.col("dsir_logratio") < dsir_min)
            .select(F.col("id").alias(id_col))
        )
        manifest = cut(apply_drops(low, "dsir_low"))

    return manifest


def tokenize_and_pack(
    kept,
    seq_len: int = 2048,
    n_merges: int = 8000,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Kept corpus -> (sequences DataFrame, merges list): the trainer
    handoff stage. Merges train on the corpus itself (distributed
    word-frequency agg, bounded driver merge loop), tokenization is one
    map-side Arrow pass with the kilobyte ranks table in the closure, and
    assembly is the blocked-running-sum concat-and-chunk writer — total
    token count is conserved exactly (tests/test_curate_job.py)."""
    from textractssmlprocessor_spark.operators.shards import (
        assemble_training_sequences,
    )
    from textractssmlprocessor_spark.operators.textstats import (
        tokenize_bpe,
        train_bpe_merges,
    )

    merges = train_bpe_merges(kept, text_col=text_col, n_merges=n_merges)
    tokenized = tokenize_bpe(kept, merges, id_col=id_col, text_col=text_col)
    return (
        assemble_training_sequences(tokenized, seq_len),
        merges,
    )


def main() -> None:
    _setup_paths()
    p = argparse.ArgumentParser(
        epilog="On a multi-executor cluster pass --conf "
        "spark.checkpoint.dir=<shared path> to spark-submit: every plan cut "
        "then goes to a reliable checkpoint that survives executor loss.",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--kept-output", default=None)
    p.add_argument("--languages", default=None)
    p.add_argument("--near-dup", action="store_true")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--lang-col", default="lang")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--url-col", default=None)
    p.add_argument("--max-per-host", type=int, default=None,
                   help="per-host diversity cap (needs --url-col)")
    p.add_argument("--dsir-target", default=None,
                   help="parquet path of the high-quality target corpus")
    p.add_argument("--dsir-min", type=float, default=None,
                   help="drop docs with DSIR log-ratio below this floor")
    p.add_argument("--c4", action="store_true",
                   help="apply the C4 line/page rules (Raffel et al. 2020) "
                        "as a map-side drop stage")
    p.add_argument("--langid-labeled", default=None,
                   help="parquet path of a lang-labeled corpus; fits the "
                        "NB char-trigram lang-ID and gates keepers by "
                        "--langid-allow (for inputs WITHOUT a lang column)")
    p.add_argument("--langid-allow", default=None,
                   help="comma-separated language allowlist for the trained "
                        "lang-ID gate")
    p.add_argument("--history-dir", default=None,
                   help="dir with fingerprints.parquet / bands.parquet from "
                        "prior passes; enables the seen_exact / seen_near "
                        "incremental gates (whichever tables exist)")
    p.add_argument("--sequences-output", default=None,
                   help="write trainer-ready (seq_id, token_ids) parquet: "
                        "trains BPE merges on the kept corpus, tokenizes "
                        "map-side, assembles fixed --seq-len sequences; the "
                        "merges table lands at <path>.merges.parquet")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--n-merges", type=int, default=8000)
    p.add_argument("--write-history-dir", default=None,
                   help="write THIS pass's kept docs' fingerprint + MinHash "
                        "band tables here (the artifacts the next pass's "
                        "--history-dir consumes; append them to the "
                        "accumulated history in production)")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.materialize import scope

    builder = (
        SparkSession.builder.appName("curate-webtext")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.partitions)
        )
    spark = builder.getOrCreate()

    docs = spark.read.parquet(args.input)
    langs = args.languages.split(",") if args.languages else None
    hist_fp = hist_bands = None
    if args.history_dir:
        import posixpath

        from textractssmlprocessor_spark.fsutil import fs_exists

        # scheme-aware existence checks: a history dir on hdfs://s3a://
        # must not be silently skipped (os.path.exists sees driver disk)
        fp_path = posixpath.join(args.history_dir, "fingerprints.parquet")
        bd_path = posixpath.join(args.history_dir, "bands.parquet")
        if fs_exists(spark, fp_path):
            hist_fp = spark.read.parquet(fp_path)
        if fs_exists(spark, bd_path):
            hist_bands = spark.read.parquet(bd_path)
    # one scope over every action: on exit it frees the cuts, including
    # reliable checkpoint files that stop() would leave in the shared store
    with scope(spark):
        manifest = build_manifest(
            docs,
            languages=langs,
            near_dup=args.near_dup,
            threshold=args.threshold,
            id_col=args.id_col,
            text_col=args.text_col,
            lang_col=args.lang_col,
            url_col=args.url_col,
            max_per_host=args.max_per_host,
            dsir_target=(
                spark.read.parquet(args.dsir_target) if args.dsir_target else None
            ),
            dsir_min=args.dsir_min,
            history_fingerprints=hist_fp,
            history_bands=hist_bands,
            c4=args.c4,
            langid_labeled=(
                spark.read.parquet(args.langid_labeled)
                if args.langid_labeled else None
            ),
            langid_allow=(
                args.langid_allow.split(",") if args.langid_allow else None
            ),
        )
        # the manifest is consumed up to three times (write, kept count, kept
        # join) — write it FIRST, then serve the other consumers from a
        # re-read of the written parquet: one pipeline execution total, and
        # nothing depends on executor-local storage
        manifest.write.mode("overwrite").parquet(args.manifest)
        written = spark.read.parquet(args.manifest)
        n_kept = written.filter(F.col("kept")).count()
        if args.kept_output:
            kept = docs.join(
                written.filter(F.col("kept")).select(
                    F.col("id").alias(args.id_col)
                ),
                args.id_col,
            )
            kept.write.mode("overwrite").parquet(args.kept_output)
        if args.sequences_output:
            kept_docs = docs.join(
                written.filter(F.col("kept")).select(F.col("id").alias(args.id_col)),
                args.id_col,
            )
            seqs, merges = tokenize_and_pack(
                kept_docs, seq_len=args.seq_len, n_merges=args.n_merges,
                id_col=args.id_col, text_col=args.text_col,
            )
            seqs.write.mode("overwrite").parquet(args.sequences_output)
            spark.createDataFrame(
                [(i, l, r) for i, (l, r) in enumerate(merges)],
                "rank int, left string, right string",
            ).write.mode("overwrite").parquet(
                args.sequences_output + ".merges.parquet"
            )
        if args.write_history_dir:
            import os

            from textractssmlprocessor_spark.operators.dedup import (
                minhash_band_table,
            )
            from textractssmlprocessor_spark.operators.textstats import fingerprint

            kept_docs = docs.join(
                written.filter(F.col("kept")).select(F.col("id").alias(args.id_col)),
                args.id_col,
            )
            kept_docs.select(
                fingerprint(F.col(args.text_col)).alias("fingerprint")
            ).distinct().write.mode("overwrite").parquet(
                os.path.join(args.write_history_dir, "fingerprints.parquet")
            )
            minhash_band_table(
                kept_docs, id_col=args.id_col, text_col=args.text_col
            ).write.mode("overwrite").parquet(
                os.path.join(args.write_history_dir, "bands.parquet")
            )
    print(f"manifest rows kept this run: {n_kept}")
    spark.stop()


if __name__ == "__main__":
    main()
