"""Curation job: manifest composition semantics in-process, plus the
spark-submit --py-files deployment shape in a fresh JVM (same layout as
test_spark_submit_job — job file outside the repo, package only via zip)."""

from __future__ import annotations

import os
import shutil
import subprocess

from pyspark.sql import functions as F

from test_spark_submit_job import _clean_env, _package_zip, _spark_submit_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus(spark):
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the driver corpus is a stopword-free token bag too short for the
    # 50-word Gopher floor (same workaround as q_curate_corpus): lengthen
    # 5x and append a stopword-bearing sentence so docs pass quality
    tail = " The cat and the dog of the house is that with us in there."
    base = raw.select(
        "doc_id",
        F.concat(F.concat_ws(" ", *["text"] * 5), F.lit(tail)).alias("text"),
        "lang",
    )
    # near-copy of every 11th doc: survives quality but not near-dup CC
    near = base.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing token")).alias("text"),
        F.lit("en").alias("lang"),
    )
    return base.unionByName(near)


def test_build_manifest_near_dup_stage(spark):
    from textractssmlprocessor_spark.jobs.curate_job import build_manifest

    docs = _corpus(spark)
    n_input = docs.count()
    manifest = build_manifest(docs, near_dup=True, threshold=0.5)
    rows = {r["id"]: r for r in manifest.collect()}
    assert len(rows) == n_input  # total: one verdict per input doc
    # every planted near-copy whose ORIGINAL was kept drops as
    # near_duplicate (min-id survivorship keeps the original)
    planted = [
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") < 500000)
        .filter(F.col("doc_id") % 11 == 0)
        .select("doc_id")
        .collect()
    ]
    checked = 0
    for d in planted:
        if rows[d]["kept"]:
            assert not rows[d + 500000]["kept"], d
            assert rows[d + 500000]["drop_reason"] == "near_duplicate", d
            checked += 1
    assert checked > 0
    # stage-1 verdicts (language/quality/duplicate) are untouched
    reasons = {r["drop_reason"] for r in rows.values()}
    assert reasons <= {None, "language", "quality", "duplicate",
                       "near_duplicate"}


def test_curate_job_spark_submit(spark, tmp_path):
    from textractssmlprocessor_spark.jobs.curate_job import build_manifest

    docs = _corpus(spark).limit(120)
    input_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(input_path)
    expected = {
        (r["id"], r["kept"], r["drop_reason"])
        for r in build_manifest(
            spark.read.parquet(input_path), near_dup=True, threshold=0.5
        ).collect()
    }

    stage = tmp_path / "deploy"
    stage.mkdir()
    zpath = _package_zip(str(stage))
    job = str(stage / "curate_job.py")
    shutil.copy(
        os.path.join(
            REPO, "textractssmlprocessor_spark", "jobs", "curate_job.py"
        ),
        job,
    )
    manifest_out = str(tmp_path / "manifest")
    kept_out = str(tmp_path / "kept")
    spark_submit = _spark_submit_path()
    env = _clean_env()
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zpath,
            job,
            "--input", input_path,
            "--manifest", manifest_out,
            "--kept-output", kept_out,
            "--near-dup",
            "--threshold", "0.5",
            "--sequences-output", str(tmp_path / "seqs"),
            "--seq-len", "64",
            "--n-merges", "30",
        ],
        cwd=str(stage),
        env=env,
        capture_output=True,
        text=True,
        timeout=360,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "manifest rows kept this run:" in proc.stdout

    got = {
        (r["id"], r["kept"], r["drop_reason"])
        for r in spark.read.parquet(manifest_out).collect()
    }
    assert got == expected
    kept_ids = {r["doc_id"] for r in spark.read.parquet(kept_out).collect()}
    assert kept_ids == {i for (i, k, _) in expected if k}

    # the trainer handoff: fixed-length sequences + the merges table
    seqs = spark.read.parquet(str(tmp_path / "seqs")).collect()
    lens = [len(r["token_ids"]) for r in sorted(seqs, key=lambda r: r["seq_id"])]
    assert all(n == 64 for n in lens[:-1]) and 0 < lens[-1] <= 64
    merges = spark.read.parquet(str(tmp_path / "seqs") + ".merges.parquet")
    assert merges.count() > 0
    assert merges.columns == ["rank", "left", "right"]


def test_tokenize_and_pack_conserves_tokens(spark):
    from textractssmlprocessor_spark.jobs.curate_job import tokenize_and_pack
    from textractssmlprocessor_spark.operators.textstats import (
        count_tokens_bpe,
        tokenize_bpe,  # noqa: F401  (documents the stage's building block)
    )

    docs = _corpus(spark).limit(80)
    seqs, merges = tokenize_and_pack(docs, seq_len=32, n_merges=40)
    import pyspark.sql.functions as F

    total_seq = seqs.select(
        F.sum(F.size("token_ids")).cast("bigint").alias("n")
    ).collect()[0]["n"]
    total_docs = count_tokens_bpe(docs, merges).select(
        F.sum("n_tokens_bpe").cast("bigint").alias("n")
    ).collect()[0]["n"]
    assert total_seq == total_docs > 0


def test_build_manifest_host_cap_and_dsir_stages(spark):
    from textractssmlprocessor_spark.jobs.curate_job import build_manifest

    docs = _corpus(spark).filter(F.col("doc_id") < 500000).withColumn(
        "url",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 4).cast("string"),
            F.lit(".example.org/p/"), F.col("doc_id").cast("string"),
        ),
    )
    n_input = docs.count()

    # host cap: 4 hosts, cap far below per-host volume -> exactly 4*cap kept
    m = build_manifest(docs, url_col="url", max_per_host=10)
    rows = m.collect()
    assert len(rows) == n_input
    kept_before = {r["id"] for r in rows if r["kept"]}
    capped = [r for r in rows if r["drop_reason"] == "host_cap"]
    assert len(kept_before) <= 40
    assert capped and all(not r["kept"] for r in capped)

    # DSIR floor: an impossible floor drops every doc the earlier stages
    # kept, with reason dsir_low; totality preserved
    target = docs.select("doc_id", "text").limit(20)
    m2 = build_manifest(
        docs, url_col="url", max_per_host=10,
        dsir_target=target, dsir_min=1e9, dsir_buckets=500,
    )
    rows2 = {r["id"]: r for r in m2.collect()}
    assert len(rows2) == n_input
    assert not any(r["kept"] for r in rows2.values())
    assert {r["drop_reason"] for r in rows2.values()} <= {
        "language", "quality", "duplicate", "host_cap", "dsir_low"
    }
    # the docs kept by the host-cap run now carry dsir_low specifically
    for i in kept_before:
        assert rows2[i]["drop_reason"] == "dsir_low"


def test_build_manifest_history_gates(spark):
    """Incremental pass: docs whose content (exact) or near-content (band
    collision) appeared in prior passes drop with seen_exact / seen_near
    before any other optional stage."""
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.jobs.curate_job import build_manifest
    from textractssmlprocessor_spark.operators.dedup import minhash_band_table
    from textractssmlprocessor_spark.operators.textstats import fingerprint

    base = " The cat and the dog of the house is that with us in there."
    docs = spark.createDataFrame(
        [
            (
                i,
                (" ".join(f"tok{i}x{j}" for j in range(60))) + base,
                "en",
            )
            for i in range(12)
        ],
        "doc_id bigint, text string, lang string",
    )
    # prior pass = docs 0-5; this pass re-crawls 0-2 verbatim (seen_exact),
    # 3-4 with a tiny suffix (near: shingle overlap keeps all bands equal?
    # no — appended words change trailing shingles, but 4 bands over 16
    # minhashes tolerate small edits), and brings 6-11 fresh
    prior = docs.filter(F.col("doc_id") <= 5)
    hist_fp = prior.select(fingerprint(F.col("text")).alias("fingerprint"))
    hist_bands = minhash_band_table(prior)
    this_pass = docs.filter(F.col("doc_id") >= 6).unionByName(
        docs.filter(F.col("doc_id") <= 2)
    ).unionByName(
        docs.filter(F.col("doc_id").isin(3, 4)).select(
            "doc_id",
            F.concat("text", F.lit(" tail")).alias("text"),
            "lang",
        )
    )
    m = {r["id"]: r for r in build_manifest(
        this_pass, languages=["en"],
        history_fingerprints=hist_fp, history_bands=hist_bands,
    ).collect()}
    assert all(m[i]["drop_reason"] == "seen_exact" for i in (0, 1, 2))
    # near-copies: at least one of 4 bands collides -> seen_near
    assert all(m[i]["drop_reason"] == "seen_near" for i in (3, 4))
    assert all(m[i]["kept"] for i in range(6, 12))


def test_build_manifest_plan_truncated_across_stages(spark):
    """All five optional stages enabled: the carried manifest is
    referenced twice per stage (keepers join + apply_drops join), so an
    uncut logical plan grows ~2^stages. The per-stage cut must keep
    the final analyzed plan LINEAR — a leaf (checkpointed RDD) plus one
    stage's worth of joins — and the composed verdicts total."""
    from pyspark.sql import functions as F

    from textractssmlprocessor_spark.jobs.curate_job import build_manifest
    from textractssmlprocessor_spark.operators.dedup import minhash_band_table
    from textractssmlprocessor_spark.operators.textstats import fingerprint

    base = " The cat and the dog of the house is that with us in there."
    docs = spark.createDataFrame(
        [
            (
                i,
                (" ".join(f"tok{i}x{j}" for j in range(60))) + base,
                "en",
                f"https://h{i % 3}.example.org/p/{i}",
            )
            for i in range(10)
        ],
        "doc_id bigint, text string, lang string, url string",
    )
    prior = docs.filter(F.col("doc_id") == 0)
    m = build_manifest(
        docs, languages=["en"], near_dup=True, threshold=0.5,
        url_col="url", max_per_host=50,
        dsir_target=docs.select("doc_id", "text"), dsir_min=-1e9,
        history_fingerprints=prior.select(
            fingerprint(F.col("text")).alias("fingerprint")
        ),
        history_bands=minhash_band_table(prior),
    )
    plan = m._jdf.queryExecution().analyzed().toString()
    # uncut, this plan is tens of thousands of lines (observed class of
    # failure in graph.py's history); cut, it's the last stage only
    assert plan.count("Join") <= 4, plan.count("Join")
    rows = {r["id"]: r for r in m.collect()}
    assert len(rows) == 10
    assert rows[0]["drop_reason"] == "seen_exact"


def test_build_manifest_same_with_checkpoint_dir(spark, tmp_path):
    """The cluster mode is a checkpoint dir on the session (spark-submit
    --conf spark.checkpoint.dir=...): every cut becomes a reliable
    checkpoint, and the manifest must equal the local-checkpoint one."""
    from conftest import checkpoint_dir_set

    from textractssmlprocessor_spark.jobs.curate_job import build_manifest
    from textractssmlprocessor_spark.materialize import scope

    sentences = " ".join(
        f"Sentence {k} is about the cat and the dog of the house with us."
        for k in range(6)
    )
    rows = [
        (i, f"{sentences} Unique marker number {i} is here.", "en",
         f"https://h{i % 2}.example.org/p/{i}")
        for i in range(24)
    ]
    # near copies of 0 and 1 on a third host: dropped by the CC stage
    rows += [(100 + i, rows[i][1] + " Tail.", "en",
              f"https://h2.example.org/p/{i}") for i in (0, 1)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, url string"
    )

    def manifest():
        with scope(spark):
            return sorted(tuple(r) for r in build_manifest(
                docs, languages=["en"], c4=True, url_col="url",
                max_per_host=8, near_dup=True, threshold=0.5,
            ).collect())

    local = manifest()
    with checkpoint_dir_set(spark, str(tmp_path / "ckpt")):
        reliable = manifest()
    assert reliable == local
    reasons = {r[2] for r in local}
    assert {"host_cap", "near_duplicate"} <= reasons, reasons
    assert spark.sparkContext.getCheckpointDir() is None


def test_build_manifest_c4_and_langid_stages(spark):
    """The round-4 optional stages: C4 page verdict and the trained NB
    lang-ID allowlist for corpora WITHOUT a lang column."""
    from textractssmlprocessor_spark.jobs.curate_job import build_manifest

    # separable micro-corpus: 'aa' docs from one syllable set, 'zz' docs
    # from a disjoint one; each doc C4-clean (>=5 sentences) except the
    # planted C4 failure (no terminal punctuation at all)
    # each doc must clear the upstream Gopher gate first (>= 50 words,
    # stopword hits), so: 12 syllable sentences + a stopword-bearing tail
    tail = " The cat and the dog of the house is that with us in there."
    sent = {
        "aa": ("kari tomu seri kato muri. " * 12).strip() + tail,
        "zz": ("oxef ylqu izef quyl oxiz. " * 12).strip() + tail,
    }
    rows = []
    for i in range(40):
        lang = "aa" if i % 2 == 0 else "zz"
        # unique marker so the exact-dedup stage keeps every doc
        rows.append((i, sent[lang] + f" Unique marker number {i} here.", lang))
    # c4 drop: Gopher-clean (>= 50 words, stopwords) but ZERO terminal
    # punctuation -> fewer than 5 sentences under the C4 rule
    rows.append(
        (100, ("kari tomu the cat and the dog of the house with us " * 6).strip(), "aa")
    )
    labeled = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    # the corpus under curation has NO lang column — the model gate is
    # exactly for this case
    docs = labeled.select("doc_id", "text")

    manifest = build_manifest(
        docs,
        c4=True,
        langid_labeled=labeled,
        langid_allow=["aa"],
        langid_buckets=512,
    )
    got = {r["id"]: r for r in manifest.collect()}
    assert len(got) == 41
    assert got[100]["kept"] is False and got[100]["drop_reason"] == "c4"
    for i in range(40):
        if i % 2 == 0:
            assert got[i]["kept"] is True, got[i]
        else:
            assert got[i]["drop_reason"] == "language_model", got[i]
