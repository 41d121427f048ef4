"""Driver contract: entry / queries / oracle_sql.

``entry(spark)`` runs the flagship extraction pipeline (pages -> chunks+SSML)
on sf0.001. ``queries()`` exposes every implemented operator from SURVEY.md
§2 plus the training-data operators; ``oracle_sql()`` carries the DuckDB
equivalent for each SQL-expressible query (identical column names; floats
rounded to 6 in both engines; hashes are md5 so values match across engines).

Queries that wrap Python-semantics UDFs (sentence chunking, DOM conversion,
SSML normalization, stateful splitters) are not SQL-expressible; they check
against fixture-golden parquet oracles instead (goldens/<sf>/, precomputed
single-process by tools/make_goldens.py from the reference-parity pure
functions — see tools/golden_oracle.py), so EVERY query gets the full
rows+schema+hash comparison. Byte-level reference parity is additionally
covered by tests/ (`python -m pytest -x -q`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

# fitted-model memo (train-once / replay-everywhere), keyed by
# (applicationId, *key): a key never outlives its SparkContext, so a new
# session refits instead of reading another session's tables.
_FITTED: dict[tuple, object] = {}


def _fit_once(spark, key: tuple, fit):
    """Train-once memo shared by every model-carrying contract query: the
    FIRST profile of a corpus runs ``fit()`` and every later pass of the
    same application gets back what it returned — BOUNDED model tables
    frozen by ``materialize.freeze`` (weights / cell tables, never
    corpus-shaped data) or plain scalars such as fitted thresholds — so
    steady-state scoring never re-executes the training aggregations.
    This is what persisting ``weights.write.parquet()`` buys in
    production, expressed without a scratch directory."""
    memo_key = (spark.sparkContext.applicationId, *key)
    if memo_key not in _FITTED:
        _FITTED[memo_key] = fit()
    return _FITTED[memo_key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from textractssmlprocessor_spark.corpus import pages_from_documents

    return pages_from_documents(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline on sf0.001 (url, chunk_number,
    extracted_text, ssml, spans)."""
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    pages = _pages(spark, "/root/testdata/sf0.001")
    return extract_chunks(pages, num_partitions=8)


# ---------------------------------------------------------------------------
# SQL-checked queries (Spark DataFrame vs DuckDB oracle)
# ---------------------------------------------------------------------------

# ONE portable definition (textstats.WORD_RE docstring has the
# Java-vs-RE2 \b rationale); the SQL twin below interpolates the same
# string so the engines can never drift
from textractssmlprocessor_spark.operators.textstats import PRETOK_RE, WORD_RE
BPE_RE = PRETOK_RE


def q_doc_stats(spark, sf_dir):
    # Merged per-doc scalar aggregates — one driver-contract row per doc
    # covering A1 estimate_cost (reference utils.py:441-454), A3 count_words
    # (ssml_validator.py:95-98), BPE-ish token counting, A9 get_preview
    # (ssml_validator.py:100-103), and the deterministic hash train/val/test
    # split (operators/sampling.py) and the per-source mixture-subsampling
    # keep flag (sampling.subsample_by_group: src0 quartered, src1 halved,
    # src2 at 3/4, everything else untouched). All map-side; one scan of
    # documents.
    from textractssmlprocessor_spark.operators.sampling import (
        split_assign,
        subsample_by_group,
    )

    # url-shape quality signals (weburl.url_quality_columns) over seeded
    # messy urls: %3 slice gains a spammy token + numeric path, %5 slice a
    # deep tracking-parameter url — every column branch is live
    from textractssmlprocessor_spark.operators.weburl import url_quality_columns

    n = F.length("text")
    words = F.regexp_extract_all("text", F.lit(WORD_RE), F.lit(0))
    d = subsample_by_group(
        _docs(spark, sf_dir),
        {"src0": 0.25, "src1": 0.5, "src2": 0.75},
        out_col="mix_keep",
    )
    seeded_url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("ads.")).otherwise(F.lit("www.")),
        F.lit("site-"), F.col("source"), F.lit(".example.org"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/p/1234/567/"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("/a/b/c/d?x=1&y=2&utm_source=feed#frag"),
            ),
        )
        .otherwise(F.concat(F.lit("/page/"), F.col("doc_id").cast("string"))),
    )
    uq = url_quality_columns(seeded_url)
    return split_assign(d, id_col="doc_id").select(
        "doc_id",
        n.cast("bigint").alias("character_count"),
        F.round(n / 1000000 * 20, 6).alias("gpt_cost"),
        F.round(n / 1000000 * 30, 6).alias("polly_cost_generative"),
        F.round(n / 1000000 * 100, 6).alias("polly_cost_long_form"),
        F.size(words).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_tokens"),
        F.concat(
            F.array_join(F.slice(words, 1, 5), " "),
            F.when(F.size(words) > 5, F.lit("...")).otherwise(F.lit("")),
        ).alias("preview"),
        "split",
        "mix_keep",
        *[c.alias(name) for name, c in uq.items()],
    )


def q_text_profile(spark, sf_dir):
    # Merged per-doc text profile: quality features + language-ID heuristic
    # (stopword-hit argmax, deterministic tie-break) + md5 fingerprint of
    # whitespace/case-normalized text — plus the unicode-hygiene columns
    # (operators/textnorm.py): NFC normalization of a seeded NFD string
    # (pandas UDF), the native mojibake artifact count, and the gated
    # pandas repair UDF on a seeded cp1252-mangled slice (doc_id%3==0;
    # clean rows must pass through BYTE-UNCHANGED, which the oracle checks
    # by emitting the raw else-branch). One scan, all map-side.
    from textractssmlprocessor_spark.operators.textnorm import (
        MOJIBAKE_LEAD_CLASS,
        MOJIBAKE_SAMPLE,
        NFD_SAMPLE,
        mojibake_artifacts,
        repair_mojibake,
        with_nfc_text,
    )
    from textractssmlprocessor_spark.operators.textstats import (
        fold_lower,
        lang_id,
    )

    d = _docs(spark, sf_dir)
    # NFD seed: e + COMBINING ACUTE (U+0301), i + COMBINING DIAERESIS
    # (U+0308) - NFC must compose both; the ASCII tail passes unchanged.
    # NUL is stripped from the tail in BOTH engines: DuckDB's
    # nfc_normalize truncates at an embedded \x00 (C-string semantics)
    # where Python's unicodedata keeps it — NUL-safety of the Spark op
    # itself is pinned by test_hostile_fuzz, so the probe input stays
    # NUL-free (fuzz seed 17).
    nfd_seed = F.concat(
        F.lit(NFD_SAMPLE),
        F.regexp_replace(F.substring("text", 1, 16), r"\x00", ""),
    )
    # else-branch seed is stripped of the mojibake LEAD chars in BOTH
    # engines: fuzz text can carry ORGANIC mojibake ('cafÃ©' is in the
    # corpus vocabulary), which Spark's gated repair would fix while the
    # oracle's pass-through branch cannot mirror the iterative repair —
    # stripping the leads makes the branch provably repair-free instead
    # of assumed so (fuzz seed 13).
    moji_seed = F.when(
        F.col("doc_id") % 3 == 0, F.lit(MOJIBAKE_SAMPLE)
    ).otherwise(
        F.regexp_replace(F.substring("text", 1, 8), MOJIBAKE_LEAD_CLASS, "")
    )
    d = d.withColumn("_nfd", nfd_seed).withColumn("_moji", moji_seed)
    d = with_nfc_text(d, text_col="_nfd", out_col="nfc_text")
    d = repair_mojibake(d, text_col="_moji", out_col="moji_fixed")
    n = F.length("text").cast("double")
    words = F.size(F.regexp_extract_all("text", F.lit(WORD_RE), F.lit(0)))
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    # unicode-script detection (textstats.script_columns) over a seeded
    # mixed-script column: %4 slices carry Cyrillic/CJK/Arabic samples
    # (module constants — the oracle re-emits them via _sql_str) ahead of
    # an ASCII tail, so every fraction branch and the argmax are live
    from textractssmlprocessor_spark.operators.textstats import (
        SCRIPT_SAMPLES,
        script_columns,
    )

    # invisible-char hygiene (textnorm.strip_invisible) on a %2-seeded
    # slice carrying ZWSP / soft hyphen / BOM / LRM / BEL
    from textractssmlprocessor_spark.operators.textnorm import (
        INVISIBLE_SAMPLE,
        strip_invisible,
    )

    inv_seed = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit(INVISIBLE_SAMPLE)).otherwise(
            F.lit("")
        ),
        F.substring("text", 1, 6),
    )
    script_seed = F.concat(
        F.when(F.col("doc_id") % 4 == 1, F.lit(SCRIPT_SAMPLES["cyrillic"] + " "))
        .when(F.col("doc_id") % 4 == 2, F.lit(SCRIPT_SAMPLES["cjk"] + " "))
        .when(F.col("doc_id") % 4 == 3, F.lit(SCRIPT_SAMPLES["arabic"] + " "))
        .otherwise(F.lit("")),
        F.substring("text", 1, 12),
    )
    sc_cols = script_columns(script_seed)
    profile = d.select(
        "doc_id",
        # try_divide: empty text makes every denominator 0 and ANSI division
        # raises; DuckDB yields NULL on /0, and try_divide is that exact mirror
        F.round(F.try_divide(alpha, n), 6).alias("alpha_ratio"),
        F.round(F.try_divide(punct, n), 6).alias("punct_ratio"),
        F.round(F.try_divide(alpha, words.cast("double")), 6).alias("mean_word_len"),
        words.cast("bigint").alias("n_words"),
        lang_id(F.col("text")).alias("lang_pred"),
        F.md5(
            F.regexp_replace(fold_lower(F.trim("text")), r"[ \t\n\x0b\f\r]+", " ")
        ).alias("fingerprint"),
        "nfc_text",
        mojibake_artifacts(F.col("_moji")).cast("bigint").alias("moji_hits"),
        "moji_fixed",
        *[c.alias(name) for name, c in sc_cols.items()],
        strip_invisible(inv_seed).alias("inv_clean"),
    )
    # MODEL-grade language ID (operators/langid.py): multi-class NB over
    # hashed char trigrams, trained deterministically on the %2 slice's
    # own `lang` labels (closed form — no SGD order dependence), scored
    # via broadcast weights + per-doc agg. Unlike the stopword lexicon
    # above it can emit ANY label seen in training (the corpus labels
    # `zh`, unreachable by the Latin lexicon). The DuckDB oracle replays
    # featurize -> fit -> score -> argmax end-to-end.
    from textractssmlprocessor_spark.materialize import freeze
    from textractssmlprocessor_spark.operators.langid import (
        langid_scores,
        train_langid_nb,
    )

    d0 = _docs(spark, sf_dir)
    # train-once / broadcast-replay (production idiom): the fit runs as
    # ONE bounded job the FIRST time a corpus is profiled; the frozen
    # weights (n_langs*buckets rows max) are memoized per sf_dir and
    # replayed as literal tables on every later pass, so steady-state
    # scoring never re-executes the training aggs.
    weights, lstats = _fit_once(
        spark,
        ("langid_nb", sf_dir, 2048),
        lambda: [
            freeze(df)
            for df in train_langid_nb(
                d0.filter(F.col("doc_id") % 2 == 0), buckets=2048
            )
        ],
    )
    lm = langid_scores(d0, weights, lstats, buckets=2048).withColumnRenamed(
        "id", "doc_id"
    )
    # charset-sniff branch (operators/charset.py sniffed_decode — the
    # SPLIT operator, so the native fast path and the gated pandas UDF are
    # both live): deterministic per-doc byte payloads built JVM-side from
    # the ASCII-printable projection of text, so BOTH engines know the
    # expected decode exactly and the DuckDB oracle never touches bytes —
    # it emits the EXPECTED text/charset from the same construction.
    # %6 == 0 plain utf-8 (fast path), 1 undeclared cp1252 tail (0xE9+2
    # spaces is invalid UTF-8 -> browser fallback; 0xE9 is 'é' = chr(233)
    # in cp1252, which is how the oracle spells the expectation), 2
    # meta-declared windows-1252, 3 utf-8 BOM (must strip), 4 utf-16le
    # BOM, 5 meta utf-16 label (WHATWG quirk: decode as utf-8).
    from textractssmlprocessor_spark.operators.charset import sniffed_decode

    # '<'/'>' are stripped along with non-printables so the constructed
    # payload can never carry an accidental '<meta ... charset=' declaration
    # that would make the sniffer diverge from the oracle's %6 expectation.
    ascii_t = F.regexp_replace(F.substring("text", 1, 64), "[^ -~]|[<>]", "")
    m6 = F.col("doc_id") % 6
    payload = (
        F.when(m6 == 1, F.concat(F.encode(ascii_t, "UTF-8"), F.lit(b"\xe9  ")))
        .when(
            m6 == 2,
            F.concat(
                F.encode(F.lit('<meta charset="windows-1252">'), "UTF-8"),
                F.encode(ascii_t, "UTF-8"),
                F.lit(b"\xe9"),
            ),
        )
        .when(m6 == 3, F.encode(F.concat(F.lit("\ufeff"), ascii_t), "UTF-8"))
        .when(m6 == 4, F.encode(F.concat(F.lit("\ufeff"), ascii_t), "UTF-16LE"))
        .when(
            m6 == 5,
            F.concat(
                F.encode(F.lit('<meta charset="utf-16le">'), "UTF-8"),
                F.encode(ascii_t, "UTF-8"),
            ),
        )
        .otherwise(F.encode(ascii_t, "UTF-8"))
    )
    cs = sniffed_decode(
        d0.select("doc_id", payload.alias("html")),
        bin_col="html",
        text_col="charset_text",
        charset_col="charset",
    ).select("doc_id", "charset", "charset_text")
    return profile.join(lm, "doc_id").join(cs, "doc_id")


def q_pack_shards(spark, sf_dir):
    # Packing suite, variant-labeled: (1) shards — token-budgeted
    # training-shard assignment via the blocked running sum; (2) seqs —
    # GPT-style concat-and-chunk fragment table (shards.
    # make_training_sequences: which seq_len=512 training sequence each
    # document fragment lands in, and where)
    from textractssmlprocessor_spark.operators.shards import (
        make_training_sequences,
        pack_shards,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    nul = F.lit(None).cast("bigint")
    ps = pack_shards(d, tokens_per_shard=2000).select(
        F.lit("shards").alias("variant"),
        F.col("id").alias("doc_id"),
        "n_tokens",
        "shard_id",
        nul.alias("seq_id"), nul.alias("frag_start"),
        nul.alias("frag_len"), nul.alias("seq_offset"),
    )
    sq = make_training_sequences(d, seq_len=512).select(
        F.lit("seqs").alias("variant"),
        F.col("id").alias("doc_id"),
        nul.alias("n_tokens"), nul.alias("shard_id"),
        "seq_id", "frag_start", "frag_len", "seq_offset",
    )
    # (3) manifest — per-shard totals (shards.shard_manifest), the table
    # the trainer's loader plans epochs from; first/last ids ride the
    # seq_id/frag_start slots
    from textractssmlprocessor_spark.operators.shards import shard_manifest

    mf = shard_manifest(pack_shards(d, tokens_per_shard=2000)).select(
        F.lit("manifest").alias("variant"),
        nul.alias("doc_id"),
        F.col("n_tokens"),
        "shard_id",
        F.col("n_docs").alias("seq_id"),
        F.col("first_id").alias("frag_start"),
        F.col("last_id").alias("frag_len"),
        nul.alias("seq_offset"),
    )
    # (4) epoch — reproducible seed-keyed global training order
    # (sampling.epoch_shuffle, blocked row_number over the md5 key — no
    # global window); two epochs prove order independence. epoch rides
    # seq_id, position rides seq_offset.
    from textractssmlprocessor_spark.operators.sampling import epoch_shuffle

    out = ps.unionByName(sq).unionByName(mf)
    for ep in (0, 1):
        e = epoch_shuffle(d.select("doc_id"), epoch=ep).select(
            F.lit("epoch").alias("variant"),
            "doc_id",
            nul.alias("n_tokens"), nul.alias("shard_id"),
            F.lit(ep).cast("bigint").alias("seq_id"),
            nul.alias("frag_start"), nul.alias("frag_len"),
            F.col("epoch_pos").alias("seq_offset"),
        )
        out = out.unionByName(e)
    # (5) zorder — Iceberg-style 2-D layout key (operators/layout.py):
    # dims are a doc_id bucket and the md5 source bucket (both 10-bit, so
    # the Morton key is 20-bit); the file assignment (zkey >> 15 = 32
    # equal key ranges) rides shard_id, dims ride frag_start/frag_len,
    # the key rides seq_offset
    from textractssmlprocessor_spark.operators.layout import zorder_key
    from textractssmlprocessor_spark.operators.sampling import hash_bucket

    zsrc = _docs(spark, sf_dir).select("doc_id", "source")
    za = F.pmod(F.col("doc_id"), F.lit(1024)).cast("bigint")
    zb = hash_bucket(F.col("source"), salt="z", buckets=1024)
    zk = zorder_key(za, zb)
    zo = zsrc.select(
        F.lit("zorder").alias("variant"),
        "doc_id",
        nul.alias("n_tokens"),
        F.shiftright(zk, 15).cast("bigint").alias("shard_id"),
        nul.alias("seq_id"),
        za.alias("frag_start"),
        zb.cast("bigint").alias("frag_len"),
        zk.cast("bigint").alias("seq_offset"),
    )
    return out.unionByName(zo)


def q_corpus_report(spark, sf_dir):
    # one-row corpus audit (exact fields only — the operator's
    # percentile_approx sketch is engine-specific by nature), extended with
    # A2 estimate_total_cost (reference utils.py:456-478) and the corpus
    # heavy hitters (textstats.top_ngrams k=1 — the census's "most
    # frequent token / bigram" line; top-k is TakeOrderedAndProject, no
    # full sort). All sides are single rows, so the crossJoins are trivial.
    from textractssmlprocessor_spark.operators.shards import corpus_report
    from textractssmlprocessor_spark.operators.textstats import top_ngrams

    d = _docs(spark, sf_dir)
    n = F.length("text")
    totals = d.agg(
        F.sum(n).cast("bigint").alias("total_character_count"),
        F.round(F.sum(n) / 1000000 * 20, 6).alias("total_gpt_cost"),
        F.round(F.sum(n) / 1000000 * 30, 6).alias("total_polly_cost_generative"),
        F.round(F.sum(n) / 1000000 * 100, 6).alias("total_polly_cost_long_form"),
    )
    t1 = top_ngrams(d, n=1, k=1).select(
        F.col("gram").alias("top_term"),
        F.col("n_occurrences").alias("top_term_count"),
    )
    t2 = top_ngrams(d, n=2, k=1).select(
        F.col("gram").alias("top_bigram"),
        F.col("n_occurrences").alias("top_bigram_count"),
    )
    # Count-Min sketch probes (operators/sketch.py): the fixed
    # depth*width-cell summary estimates the exact census's top term
    # (upper-biased: cms_top_term_est >= top_term_count always) plus a
    # fixed probe; both single rows, crossJoins stay trivial
    from textractssmlprocessor_spark.operators.sketch import (
        count_min_cells,
        count_min_estimate,
    )

    cells = count_min_cells(d, depth=4, width=1024)
    est_top = count_min_estimate(
        cells, t1.select(F.col("top_term").alias("probe"))
    ).select(F.col("cms_est").alias("cms_top_term_est"))
    est_the = count_min_estimate(
        cells, spark.range(1).select(F.lit("the").alias("probe"))
    ).select(F.col("cms_est").alias("cms_the_est"))
    return (
        corpus_report(d)
        .select("n_docs", "n_tokens", "min_tokens", "max_tokens", "n_langs")
        .crossJoin(totals)
        .crossJoin(t1)
        .crossJoin(t2)
        .crossJoin(est_top)
        .crossJoin(est_the)
    )


def q_redact_pii(spark, sf_dir):
    # PII scrubbing with audit counts; identifiers seeded deterministically
    from textractssmlprocessor_spark.operators.privacy import redact_pii

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                "text",
                F.lit(" Contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 from 192.168.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit("."),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cols = redact_pii(F.col("text"))
    return d.select(
        "doc_id", cols["n_email"].alias("n_email"),
        cols["n_phone"].alias("n_phone"), cols["n_ip"].alias("n_ip"),
        cols["redacted_text"].alias("redacted_text"),
    )


def q_contamination(spark, sf_dir):
    # Leakage suite, variant-labeled: (1) eval-set decontamination — flag
    # corpus docs sharing 5-gram shingles with the probe subset
    # (doc_id % 23 == 0 plays the benchmark); (2) exact-substring duplicate
    # spans (Lee et al. 2021): maximal >=8-token runs occurring more than
    # once in the corpus, first occurrence exempt. Each branch is the
    # unchanged operator.
    from textractssmlprocessor_spark.operators.dedup import (
        benchmark_contamination,
        exact_substring_spans,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    probes = d.filter(F.col("doc_id") % 23 == 0).select("text")
    nulls = [F.lit(None).cast("bigint").alias(c) for c in ("span_start", "span_end")]
    cont = benchmark_contamination(d, probes, n=5, min_overlap=3).select(
        F.lit("contamination").alias("variant"),
        F.col("id").alias("doc_id"),
        F.col("n_overlap").alias("n"),
        *nulls,
    )
    spans = exact_substring_spans(d, k=8).select(
        F.lit("dup_span").alias("variant"),
        F.col("id").alias("doc_id"),
        F.col("n_tokens").alias("n"),
        "span_start",
        "span_end",
    )
    return cont.unionByName(spans)


def q_curate_corpus(spark, sf_dir):
    # end-to-end curation manifest over the dupes corpus: language
    # allowlist -> Gopher quality -> exact-dedup survivorship
    from textractssmlprocessor_spark.operators.curate import curate_corpus

    # the driver corpus is a stopword-free token bag too short for the
    # 50-word Gopher floor: lengthen 5x and append a stopword-bearing
    # sentence BEFORE deriving copies, so every verdict branch (language /
    # quality / duplicate / kept) is live
    tail = " The cat and the dog of the house is that with us in there."
    body = F.concat(
        F.concat_ws(" ", *["text"] * 5), F.lit(tail),
        # symbol-spam poison for a deterministic slice -> quality branch live
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.lit(" "), F.repeat(F.lit("# "), 40)))
        .otherwise(F.lit("")),
    )
    d = _docs(spark, sf_dir).select("doc_id", body.alias("text"), "lang")
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("  "), _ascii_upper("text"), F.lit("  ")).alias("text"),
        F.col("lang"),
    )
    corpus = d.unionByName(exact)
    return curate_corpus(corpus, languages=["en", "la"]).withColumnRenamed(
        "id", "doc_id"
    )


def q_url_normalize(spark, sf_dir):
    # URL suite, variant-labeled: (1) canonicalization of deterministic
    # messy urls -> canonical key + host; (2) canonical-URL dedup over a
    # COLLIDING url set (path = doc_id % 37, per-doc tracking clutter,
    # default ports and fragments on deterministic slices — everything
    # that must normalize away for the groups to form).
    from textractssmlprocessor_spark.operators.weburl import (
        blocklist_flags,
        cap_per_host,
        domain_stats,
        normalize_url,
        url_dedup,
        url_host,
    )

    base = F.concat(
        F.lit("HTTPS://Host-"), F.col("source"), F.lit(".Example.org"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("?utm_source=feed&b=2&a=1&fbclid=xyz"),
        ).otherwise(F.lit("?z=9&utm_campaign=x")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section-3")).otherwise(F.lit("")),
    )
    collide = F.concat(
        F.lit("HTTPS://Host-"), F.col("source"), F.lit(".Example.org"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/"), (F.col("doc_id") % 37).cast("string"),
        F.lit("?b=2&a=1&utm_source=src"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#s")).otherwise(F.lit("")),
    )
    # (3) per-host corpus stats over the colliding set; (4) UT1-style
    # blocklist suffix matching — deep.sub. prefix on the %4 slice
    # exercises the subdomain (host-suffix) path
    blocked = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("deep.sub.")).otherwise(F.lit("")),
        F.lit("host-"), F.col("source"), F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", base.alias("u1"), collide.alias("u2"), blocked.alias("u3")
    )
    nulls = {
        "doc_id": F.lit(None).cast("bigint").alias("doc_id"),
        "canonical_url": F.lit(None).cast("string").alias("canonical_url"),
        "host": F.lit(None).cast("string").alias("host"),
        "n": F.lit(None).cast("bigint").alias("n"),
        "n2": F.lit(None).cast("bigint").alias("n2"),
        "matched": F.lit(None).cast("string").alias("matched"),
    }
    norm = d.select(
        F.lit("normalize").alias("variant"),
        "doc_id",
        normalize_url(F.col("u1")).alias("canonical_url"),
        url_host(F.col("u1")).alias("host"),
        nulls["n"], nulls["n2"], nulls["matched"],
    )
    # (1b) SURT keys (weburl.surt_key) over the same messy urls: the
    # CDX/web-archive ordering form — reversed comma-joined host, scheme
    # dropped, path+query lowercased on top of normalize_url
    from textractssmlprocessor_spark.operators.weburl import surt_key

    st = d.select(
        F.lit("surt").alias("variant"),
        "doc_id",
        surt_key(F.col("u1")).alias("canonical_url"),
        nulls["host"], nulls["n"], nulls["n2"], nulls["matched"],
    )
    dd = url_dedup(d.select("doc_id", F.col("u2").alias("url"))).select(
        F.lit("url_dedup").alias("variant"),
        F.col("keep_id").alias("doc_id"),
        "canonical_url",
        nulls["host"],
        F.col("n_dupes").alias("n"),
        nulls["n2"], nulls["matched"],
    )
    ds = domain_stats(d.select("doc_id", F.col("u2").alias("url"))).select(
        F.lit("domain_stats").alias("variant"),
        nulls["doc_id"], nulls["canonical_url"],
        "host",
        F.col("n_docs").alias("n"),
        F.col("n_pages").alias("n2"),
        nulls["matched"],
    )
    blist = spark.createDataFrame(
        [("host-src3.example.org",), ("host-src7.example.org",),
         ("sub.host-src1.example.org",)],
        "host string",
    )
    bl = blocklist_flags(d.select("doc_id", F.col("u3").alias("url")), blist).select(
        F.lit("blocklist").alias("variant"),
        F.col("id").alias("doc_id"),
        nulls["canonical_url"],
        "host",
        F.col("blocked").cast("bigint").alias("n"),
        nulls["n2"],
        F.col("matched_host").alias("matched"),
    )
    # (5) per-host cap: the deep.sub.* hosts sit under the cap (no window,
    # NULL rank) while the plain hosts exceed it and rank-truncate to 10
    hc = cap_per_host(
        d.select("doc_id", F.col("u3").alias("url")), max_docs=10
    ).select(
        F.lit("host_cap").alias("variant"),
        "doc_id",
        nulls["canonical_url"],
        "host",
        F.col("host_rank").alias("n"),
        nulls["n2"], nulls["matched"],
    )
    # (6) crawl-snapshot delta (operators/delta.crawl_delta): old = the
    # corpus; new drops the %10 slice, rewrites the %7 slice's content,
    # and adds fresh urls on the %13 slice
    from textractssmlprocessor_spark.operators.delta import crawl_delta

    docs = _docs(spark, sf_dir)
    page_url = F.concat(
        F.lit("https://host-"), F.col("source"), F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    old = docs.select(page_url.alias("url"), "text")
    new = docs.filter(F.col("doc_id") % 10 != 0).select(
        page_url.alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" updated"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 13 == 0).select(
            F.concat(
                F.lit("https://host-"), F.col("source"),
                F.lit(".example.org/p/new"), F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
    )
    cd = crawl_delta(old, new).select(
        F.lit("crawl_delta").alias("variant"),
        nulls["doc_id"],
        F.col("url").alias("canonical_url"),
        nulls["host"], nulls["n"], nulls["n2"],
        F.col("status").alias("matched"),
    )
    # (7) robots.txt verdicts (operators/robots.py): every host serves the
    # same base policy (googlebot fully blocked — must NOT leak into the
    # '*' verdicts; /admin/ disallowed with /admin/public/ carved back
    # out), odd-numbered hosts additionally disallow /page/. Exercises
    # RFC group selection, longest-match precedence, and allow-wins ties.
    from textractssmlprocessor_spark.operators.robots import (
        parse_robots,
        robots_verdicts,
    )

    # nullif: a digit-less source extracts '' and ANSI cast('') raises;
    # NULL src_num routes the %2 branch to the no-extra-rule default on
    # both engines (oracle mirrors with try_cast)
    src_num = F.nullif(F.regexp_extract("source", r"(\d+)", 1), F.lit("")).cast("int")
    host = F.concat(F.lit("host-"), F.col("source"), F.lit(".example.org"))
    robots_txt = F.concat(
        F.lit("# crawl policy\nUser-agent: googlebot\nDisallow: /\n\n"
              "User-agent: *\nDisallow: /admin/\nAllow: /admin/public/\n"),
        F.when(src_num % 2 == 1, F.lit("Disallow: /page/\n")).otherwise(F.lit("")),
    )
    robots_tbl = (
        _docs(spark, sf_dir)
        .select(host.alias("host"), robots_txt.alias("robots_txt"))
        .distinct()
    )
    rpath = (
        F.when(F.col("doc_id") % 9 == 0,
               F.concat(F.lit("/admin/public/y"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 0,
              F.concat(F.lit("/admin/x"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("/page/"), F.col("doc_id").cast("string")))
    )
    rurls = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.lit("https://"), host, rpath).alias("url")
    )
    rb = robots_verdicts(rurls, parse_robots(robots_tbl)).select(
        F.lit("robots").alias("variant"),
        F.col("id").alias("doc_id"),
        F.col("path").alias("canonical_url"),
        "host",
        F.col("allowed").cast("bigint").alias("n"),
        nulls["n2"],
        F.col("matched_path").alias("matched"),
    )
    # (8) canonical-aware dedup (weburl.canonical_url_dedup): the %2 slice
    # declares <link rel=canonical> (href-first attr order on %4 == 2 to
    # exercise both patterns) pointing at doc_id %21 families; the %5
    # slice declares only og:url; everyone else falls back to the crawl
    # url. Canonical families collapse across DIFFERENT crawl urls —
    # exactly what normalize-only dedup can't do.
    from textractssmlprocessor_spark.operators.weburl import canonical_url_dedup

    canon_target = F.concat(
        F.lit("https://canon.example.org/c/"),
        (F.col("doc_id") % 21).cast("string"),
    )
    page_html = (
        F.when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('<head><link href="'), canon_target,
                F.lit('" rel="canonical"></head><p>b</p>'),
            ),
        )
        .when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<head><link rel="canonical" href="'), canon_target,
                F.lit('"></head><p>b</p>'),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<head><meta property="og:url" content="'),
                canon_target, F.lit('"></head><p>b</p>'),
            ),
        )
        .otherwise(F.lit("<p>no canonical declared</p>"))
    )
    cpages = docs.select("doc_id", page_url.alias("url"), page_html.alias("html"))
    cn = canonical_url_dedup(cpages).select(
        F.lit("canonical").alias("variant"),
        F.col("keep_id").alias("doc_id"),
        "canonical_url",
        nulls["host"],
        F.col("n_dupes").alias("n"),
        nulls["n2"], nulls["matched"],
    )
    # (9) frontier — politeness-aware crawl ordering (weburl.
    # crawl_frontier_order): round-robin across hosts via host-partitioned
    # rank + blocked global row_number (bit-identical to a global window,
    # none used)
    from textractssmlprocessor_spark.operators.weburl import (
        crawl_frontier_order,
    )

    fr = crawl_frontier_order(
        d.select("doc_id", F.col("u3").alias("url"))
    ).select(
        F.lit("frontier").alias("variant"),
        F.col("id").alias("doc_id"),
        nulls["canonical_url"],
        "host",
        F.col("frontier_pos").alias("n"),
        F.col("host_rank").alias("n2"),
        nulls["matched"],
    )
    # (10) sitemap entries (robots.sitemap_entries): each doc hosts a
    # seeded sitemap.xml with its own <url> entry (lastmod on the %2
    # slice, priority on the %3 slice) plus an entity-escaped second loc;
    # a <sitemapindex> block in front must be ignored (urlset subset).
    # Column mapping for the union: canonical_url=loc, matched=lastmod,
    # n = priority*10 as bigint (0.8 -> 8; NULL passes through).
    from textractssmlprocessor_spark.operators.robots import sitemap_entries

    sm_xml = F.concat(
        F.lit('<?xml version="1.0"?>'
              "<sitemapindex><sitemap><loc>https://ignored.example.org/"
              "deeper.xml</loc></sitemap></sitemapindex><urlset>"
              "<url><loc>https://host-"),
        F.col("source"),
        F.lit(".example.org/sm/"), F.col("doc_id").cast("string"),
        F.lit("</loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2024-0"),
                ((F.col("doc_id") % 9) + 1).cast("string"),
                F.lit("-01</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("<priority>0.8</priority>"))
        .otherwise(F.lit("")),
        F.lit("</url><url><loc>https://host-"),
        F.col("source"),
        F.lit(".example.org/sm/amp&amp;ersand</loc></url></urlset>"),
    )
    sm_in = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("host-"), F.col("source"), F.lit(".example.org")).alias(
            "host"
        ),
        sm_xml.alias("sitemap_xml"),
    )
    sm = sitemap_entries(sm_in).select(
        F.lit("sitemap").alias("variant"),
        nulls["doc_id"],
        F.col("loc").alias("canonical_url"),
        "host",
        (F.col("priority") * 10).cast("bigint").alias("n"),
        nulls["n2"],
        F.col("lastmod").alias("matched"),
    )
    return (
        norm.unionByName(st).unionByName(dd).unionByName(ds).unionByName(bl)
        .unionByName(hc).unionByName(cd).unionByName(rb).unionByName(cn)
        .unionByName(fr).unionByName(sm)
    )


def q_gopher_quality(spark, sf_dir):
    # Quality-scoring suite: Gopher-rule flags (Rae et al. 2021 — native,
    # map-side) + CCNet-style n-gram LM perplexity columns (Wenzek et al.
    # 2020 — broadcast-model joins, operators/lm.py) + DSIR importance
    # log-ratios (Xie et al. 2023, operators/dsir.py — hashed-bigram cell
    # multinomials; the %5 slice plays the high-quality target corpus)
    from textractssmlprocessor_spark.operators.dsir import dsir_scores
    from textractssmlprocessor_spark.operators.lm import lm_perplexity
    from textractssmlprocessor_spark.operators.textstats import (
        gopher_columns,
        readability_columns,
    )

    d = _docs(spark, sf_dir)
    cols = gopher_columns(F.col("text"))
    # verdict flags cross the contract as bigint, never nullable boolean
    # (CLAUDE.md: pandas renders NULL bool differently per engine)
    cols["gopher_pass"] = cols["gopher_pass"].cast("bigint")
    # Flesch/FK readability (textstats.readability_columns) rides the
    # same map-side projection
    cols.update(readability_columns(F.col("text")))
    g = d.select("doc_id", *[c.alias(name) for name, c in cols.items()])
    lm = lm_perplexity(d, id_col="doc_id", text_col="text").withColumnRenamed(
        "id", "doc_id"
    )
    # fastText-style linear classifier scoring (dsir.linear_text_classifier)
    # with REAL trained weights: dsir.train_nb_weights fits naive-Bayes
    # log-count-ratio weights (NBSVM r vector) on the %5 slice as the
    # positive class vs the rest — a deterministic closed-form trained
    # model, same broadcast scoring plan as any offline fastText table.
    # Train-once / broadcast-replay (the langid-memo idiom, d156d71): the
    # DSIR cell model and the classifier weights are BOUNDED tables
    # (<= 2000 rows each), so the first profile of a corpus fits them once
    # and later passes rebuild them as literal tables — steady-state
    # scoring never re-executes the training aggregations. (The LM
    # vocab/bigram tables are NOT memoized: their size is
    # corpus-vocabulary-shaped, not bucket-bounded — persisting those is a
    # weights.write.parquet() job in production, not a driver memo.)
    from textractssmlprocessor_spark.materialize import freeze
    from textractssmlprocessor_spark.operators.dsir import (
        dsir_model,
        linear_text_classifier,
        train_nb_weights,
    )

    weights, dsir_m = _fit_once(
        spark,
        ("gopher_models", sf_dir, 2000),
        lambda: (
            freeze(
                train_nb_weights(
                    d.filter(F.col("doc_id") % 5 == 0),
                    d.filter(F.col("doc_id") % 5 != 0),
                    buckets=2000,
                )
            ),
            freeze(
                dsir_model(d, d.filter(F.col("doc_id") % 5 == 0), buckets=2000)
            ),
        ),
    )
    ds = dsir_scores(
        d,
        d.filter(F.col("doc_id") % 5 == 0),
        buckets=2000,
        model=dsir_m,
    ).withColumnRenamed("id", "doc_id")
    clf = linear_text_classifier(
        d, weights, buckets=2000, bias=0.25
    ).withColumnRenamed("id", "doc_id")
    joined = g.join(lm, "doc_id").join(ds, "doc_id").join(clf, "doc_id")
    # CCNet head/middle/tail routing (lm.perplexity_buckets): tercile
    # thresholds are rank-based scalars fit on the deterministic 50%
    # md5-hash sample and inlined as literals (IVF-centroid precedent).
    # The two scalars memoize per corpus — refitting them re-executes the
    # whole joined scoring pipeline on the sample (3 driver actions),
    # which was >half the warm contract cost.
    from textractssmlprocessor_spark.operators.lm import (
        fit_perplexity_thresholds,
        label_perplexity_buckets,
    )

    thresholds = _fit_once(
        spark,
        ("gopher_ppl", sf_dir),
        lambda: fit_perplexity_thresholds(
            joined, score_col="lm_avg_logprob", id_col="doc_id", sample_frac=0.5
        ),
    )
    return label_perplexity_buckets(
        joined, thresholds, score_col="lm_avg_logprob"
    )


def q_repetition_stats(spark, sf_dir):
    # dup-line/paragraph fractions + top-bigram share; repetition seeded
    # deterministically so the duplicated branches actually execute —
    # PLUS the full Gopher character-fraction battery (Rae et al. 2021
    # Table A1, textstats.gopher_repetition): dup line/para CHAR
    # fractions, top {2,3,4}-gram char fractions, overlap-aware
    # duplicated {5..10}-gram char coverage
    from textractssmlprocessor_spark.operators.textstats import (
        gopher_repetition,
        repetition_stats,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat("text", F.lit("\n"), "text")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    rep = repetition_stats(d).withColumnRenamed("id", "doc_id")
    battery = gopher_repetition(d).withColumnRenamed("id", "doc_id")
    return rep.join(battery, "doc_id")


def _ascii_upper(col):
    """ASCII-only uppercase for dupe-corpus synthesis: Java's upper()
    applies full SpecialCasing (one ß -> 'SS', ligature expansion) where
    DuckDB/utf8proc applies the simple map (ß unchanged), so a plain
    upper(text) synthesis diverges on German/ligature payloads (fuzz
    seed 21, 'straße'). A 26-letter translate is byte-identical in both
    engines and still exercises the case+whitespace dedup normalization.

    Pure-ASCII rows take F.upper instead (UTF8String's ASCII fast path;
    identical to the 26-letter translate there by case analysis) —
    unconditional translate allocates + walks a per-char map for every
    row and cost ~1.4 s on the dedup_exact bench line (same-boot A/B);
    the DuckDB mirror stays a plain translate, equal on both branches."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~c.rlike("[^\\x00-\\x7F]"), F.upper(c)).otherwise(
        F.translate(c, "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    )


def _docs_with_dupes(spark, sf_dir):
    """documents ∪ deterministic near/exact copies (dedup test corpus):
    exact copies differ only in case+whitespace; near copies append a word."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("  "), _ascii_upper("text"), F.lit("  ")).alias("text"),
    )
    near = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended tail token")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


_DOCS_WITH_DUPES_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, '  ' || translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  ' FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || ' appended tail token' FROM documents WHERE doc_id % 11 = 0
"""


def _para_docs(spark, sf_dir):
    """documents re-shaped into multi-paragraph pages (Dolma-style corpus):
    para 0 = the doc's own text; para 1 = boilerplate shared by EVERY page
    (the newsletter line paragraph dedup exists to kill); para 2 = a
    copyright line shared by the doc_id%3==0 slice, unique closing
    elsewhere; para 3 = whitespace-only on the %5 slice (exercises the
    min_chars always-keep path), unique tail elsewhere."""
    d = _docs(spark, sf_dir)
    body = F.concat_ws(
        "\n\n",
        F.col("text"),
        F.lit("Subscribe to our newsletter for updates."),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("Copyright 2024 Example Org. All rights reserved."),
        ).otherwise(F.concat(F.lit("Unique closing "), F.col("doc_id").cast("string"))),
        F.when(F.col("doc_id") % 5 == 0, F.lit("   ")).otherwise(
            F.concat(F.lit("tail "), F.col("doc_id").cast("string"))
        ),
    )
    return d.select("doc_id", body.alias("text"))


def q_dedup_exact(spark, sf_dir):
    # Exact-dedup suite, variant-labeled: (1) doc — whole-document
    # fingerprint dedup over the duped corpus; (2) para — corpus-wide
    # paragraph fingerprint table (Dolma §3.2) over the multi-paragraph
    # corpus; (3) para_doc — the rebuilt documents with every duplicate
    # paragraph removed except its first (id, idx) occurrence.
    from textractssmlprocessor_spark.operators.dedup import (
        dedup_exact,
        dedup_paragraphs,
        paragraph_fingerprints,
    )

    doc = dedup_exact(_docs_with_dupes(spark, sf_dir)).select(
        F.lit("doc").alias("variant"),
        "fingerprint",
        "keep_id",
        F.lit(None).cast("bigint").alias("keep_idx"),
        F.col("n_dupes").cast("bigint").alias("n_dupes"),
        F.lit(None).cast("string").alias("text"),
    )
    pd_ = _para_docs(spark, sf_dir)
    para = paragraph_fingerprints(pd_).select(
        F.lit("para").alias("variant"),
        "fingerprint",
        "keep_id",
        F.col("keep_idx").cast("bigint").alias("keep_idx"),
        F.col("n_dupes").cast("bigint").alias("n_dupes"),
        F.lit(None).cast("string").alias("text"),
    )
    rebuilt = dedup_paragraphs(pd_).select(
        F.lit("para_doc").alias("variant"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.col("id").alias("keep_id"),
        F.lit(None).cast("bigint").alias("keep_idx"),
        F.lit(None).cast("bigint").alias("n_dupes"),
        "text",
    )
    # (4) incr — dedup against history (operators/delta.new_against_history):
    # the %3 slice's fingerprints are "already seen"; survivors are the
    # docs whose content never appeared there
    from textractssmlprocessor_spark.operators.delta import new_against_history
    from textractssmlprocessor_spark.operators.textstats import fingerprint

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint(F.col("text")).alias("fingerprint")
    )
    incr = new_against_history(docs, history).select(
        F.lit("incr").alias("variant"),
        "fingerprint",
        F.col("doc_id").alias("keep_id"),
        F.lit(None).cast("bigint").alias("keep_idx"),
        F.lit(None).cast("bigint").alias("n_dupes"),
        F.lit(None).cast("string").alias("text"),
    )
    # (5) bloom — the SAME history gate through the Bloom-sketch-then-
    # verify path (delta.new_against_history_bloom): identical rows by
    # construction (no false negatives; FP tail exact-verified), so the
    # oracle is the same anti-join. m_bits small enough here that false
    # positives actually occur and exercise the verify join.
    from textractssmlprocessor_spark.operators.delta import (
        new_against_history_bloom,
    )

    bloom = new_against_history_bloom(
        docs, history, m_bits=1 << 12, k=3
    ).select(
        F.lit("bloom").alias("variant"),
        "fingerprint",
        F.col("doc_id").alias("keep_id"),
        F.lit(None).cast("bigint").alias("keep_idx"),
        F.lit(None).cast("bigint").alias("n_dupes"),
        F.lit(None).cast("string").alias("text"),
    )
    # (6) mh_incr — NEAR-dup against history (dedup.near_dupes_against_
    # history): the %3 slice's persisted MinHash band table is the
    # history; survivors are docs colliding with it in no band. The %7
    # exact-dup slice of _docs_with_dupes guarantees live collisions
    # beyond the slice's own members (case/whitespace copies share all
    # shingles, hence all bands).
    from textractssmlprocessor_spark.operators.dedup import (
        minhash_band_table,
        near_dupes_against_history,
    )

    dd = _docs_with_dupes(spark, sf_dir)
    hist_bands = minhash_band_table(dd.filter(F.col("doc_id") % 3 == 0))
    mh_incr = near_dupes_against_history(
        dd.filter(F.col("doc_id") % 3 != 0), hist_bands
    ).select(
        F.lit("mh_incr").alias("variant"),
        F.lit(None).cast("string").alias("fingerprint"),
        F.col("doc_id").alias("keep_id"),
        F.lit(None).cast("bigint").alias("keep_idx"),
        F.lit(None).cast("bigint").alias("n_dupes"),
        F.lit(None).cast("string").alias("text"),
    )
    return (
        doc.unionByName(para)
        .unionByName(rebuilt)
        .unionByName(incr)
        .unionByName(bloom)
        .unionByName(mh_incr)
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    from textractssmlprocessor_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs_with_dupes(spark, sf_dir), threshold=0.8, max_doc_freq=1000
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    from textractssmlprocessor_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir), num_hashes=16, bands=4, threshold=0.5
    )


def q_dedup_clusters(spark, sf_dir):
    # Cluster-assignment suite, variant-labeled. (1) minhash_cc: MinHash
    # LSH pairs (identical params to dedup_minhash_lsh) -> large-star/
    # small-star connected components -> total (id=doc_id, rep=cluster_rep,
    # aux=cluster_size, keep=is_survivor) over the corpus. (2) semdedup
    # (Abbas et al. 2023): k-means cells over the duped embedding corpus,
    # within-cell cosine edges, CC groups, farthest-from-centroid survivor
    # (id=vec_id, rep=group_rep, aux=cell, sim=centroid_sim). Oracle
    # replays pair CTEs + recursive min-label closures for both branches.
    from textractssmlprocessor_spark.operators.graph import dedup_clusters
    from textractssmlprocessor_spark.operators.similarity import semdedup

    mh = dedup_clusters(
        _docs_with_dupes(spark, sf_dir), num_hashes=16, bands=4, threshold=0.5
    ).select(
        F.lit("minhash_cc").alias("variant"),
        F.col("doc_id").alias("id"),
        F.col("cluster_rep").alias("rep"),
        F.col("cluster_size").alias("aux"),
        F.lit(None).cast("double").alias("sim"),
        F.col("is_survivor").alias("keep"),
    )
    sd = semdedup(_emb_with_dupes(spark, sf_dir), threshold=0.999, n_cells=8).select(
        F.lit("semdedup").alias("variant"),
        "id",
        F.col("group_rep").alias("rep"),
        F.col("cell").alias("aux"),
        F.col("centroid_sim").alias("sim"),
        "keep",
    )
    return mh.unionByName(sd)


def q_simhash_groups(spark, sf_dir):
    from textractssmlprocessor_spark.operators.dedup import simhash_groups

    return simhash_groups(_docs_with_dupes(spark, sf_dir)).select(
        F.col("simhash").cast("bigint").alias("simhash"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "min_id",
    )


def q_ann_topk(spark, sf_dir):
    # Merged top-k retrieval suite: exact brute-force cosine (the recall
    # baseline), multi-probe sign-LSH, IVF-flat over deterministic
    # k-means centroids, and lexical BM25 over the documents table
    # (operators/retrieval.py — query terms are plan literals, corpus
    # never shuffles unmatched tokens) — one contract row per
    # (method, hit). Each branch is the unchanged operator; the union
    # just labels them. Columns are generic (hit_id, score) because the
    # bm25 branch retrieves doc_ids, not vec_ids.
    from textractssmlprocessor_spark.operators.retrieval import bm25_topk
    from textractssmlprocessor_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        cosine_topk,
    )

    emb = _emb(spark, sf_dir)
    brute = cosine_topk(emb, query_id=0, k=10).select(
        F.lit("brute").alias("method"),
        F.col("vec_id").cast("bigint").alias("hit_id"),
        F.col("cosine_sim").alias("score"),
    )
    lsh = ann_lsh_topk(emb, query_id=0, k=10).select(
        F.lit("lsh").alias("method"),
        F.col("vec_id").cast("bigint").alias("hit_id"),
        F.col("cosine_sim").alias("score"),
    )
    ivf = ann_ivf_topk(emb, query_id=0, k=10, n_cells=8).select(
        F.lit("ivf").alias("method"),
        F.col("vec_id").cast("bigint").alias("hit_id"),
        F.col("cosine_sim").alias("score"),
    )
    bm = bm25_topk(_docs(spark, sf_dir), "spark window join", k=10).select(
        F.lit("bm25").alias("method"),
        F.col("doc_id").cast("bigint").alias("hit_id"),
        F.col("score"),
    )
    return brute.unionByName(lsh).unionByName(ivf).unionByName(bm)


def _emb_with_dupes(spark, sf_dir):
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return e.unionByName(copies)


def q_kmeans_centroids(spark, sf_dir):
    # deterministic k-means trainer output, exploded to (cell, dim, value)
    from textractssmlprocessor_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(_emb(spark, sf_dir), k=8, iters=2)
    return cents.select(
        F.col("cell").cast("bigint").alias("cell"),
        F.posexplode("cvec").alias("dim", "value"),
    ).select("cell", F.col("dim").cast("bigint").alias("dim"), F.round("value", 6).alias("value"))


def q_knn_join(spark, sf_dir):
    # batch top-k retrieval (knn-join) for 4 query vectors, k=5
    from textractssmlprocessor_spark.operators.similarity import knn_join

    emb = _emb(spark, sf_dir)
    return knn_join(emb, emb.filter(F.col("vec_id") < 4), k=5)


def q_embedding_near_dupes(spark, sf_dir):
    from textractssmlprocessor_spark.operators.similarity import (
        pairwise_near_duplicates,
    )

    return pairwise_near_duplicates(_emb_with_dupes(spark, sf_dir), threshold=0.999)


def q_cleaning_suite(spark, sf_dir):
    # Merged cleaning transforms, each on its own seeded multi-line input so
    # every branch is live: F1 remove_headers (reference utils.py:52-58),
    # F3+F4 note/bracket strip (text_processing.py:6-19), F5 subtitle text
    # prep (timestamp.py:15-23). One scan of documents, three output columns.
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("CHAPTER HEADING\n"), F.col("text"),
            F.lit("\nTHE VERY LONG RUNNING HEAD OF PAGES\nlast line."),
        ).alias("th"),
        F.concat(
            F.lit("intro [Note: drop [nested [deep]]] "), F.col("text"),
            F.lit(" mid [stray] <p> </p> tail<br> <small> </small>."),
        ).alias("tn"),
        F.concat(
            F.lit("<p>Tagged</p>  intro\n\n  \n"), F.col("text"), F.lit("  end  ")
        ).alias("tc"),
        F.concat(
            F.lit("Shared nav line\nunique intro\nShared nav line\n\n"),
            F.substring("text", 1, 30),
            F.lit("\n  Shared nav line \nThe End"),
        ).alias("tr"),
        # C4 seed: one line per rule branch — kept sentence, <3-words,
        # no terminal punctuation, javascript boilerplate, salad+period,
        # doc-verdict toggles (lorem ipsum on %5, curly brace on %7),
        # and a multi-sentence tail so the >=5-sentence rule can pass
        F.concat(
            F.lit("Good opening sentence with plenty of words.\n"),
            F.lit("short line.\n"),
            F.lit("This line has no terminal punctuation\n"),
            F.lit("Please enable JavaScript to view this page.\n"),
            F.substring("text", 1, 40), F.lit(" end.\n"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("lorem ipsum dolor sit amet.\n")
            ).otherwise(F.lit("Second good sentence is right here.\n")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("code block { display: none; }\n")
            ).otherwise(F.lit("")),
            F.lit("Final thoughts here. Another one! A question? Yes indeed."),
        ).alias("tl"),
        # bad-words seed: %3 toggles a punctuation-split single-word hit, a
        # case/whitespace-normalized phrase hit, and a clean branch (plus
        # 'crummy alone and stuff apart' proving adjacency is required)
        F.concat(
            F.lit("Perfectly clean opener with crummy alone and stuff apart. "),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("This page has BadWord, content. ")
            )
            .when(
                F.col("doc_id") % 3 == 1, F.lit("totally Crummy   STUFF appears. ")
            )
            .otherwise(F.lit("")),
            F.substring("text", 1, 40),
        ).alias("tb"),
    )
    # F1: drop short all-caps lines. ASCII-anchored caps test (has [A-Z],
    # no [a-z]) — upper(x)==x diverges between engines on SpecialCasing
    # chars (Java upper ß -> 'SS', utf8proc keeps ß), so a caps line
    # containing ß reads as a header in DuckDB but not Spark (fuzz seed
    # 21 class); the ASCII anchor is byte-identical everywhere
    kept = F.filter(
        F.split("th", "\n", -1),
        lambda x: ~(
            x.rlike("[A-Z]")
            & ~x.rlike("[a-z]")
            & (F.size(F.filter(F.split(x, r"[ \t\n\x0b\f\r]+", -1), lambda w: w != "")) < 5)
        ),
    )
    # F3+F4: nested [Note:]s, empty tags, then stray brackets
    note_re = r"(?si)\[Note:(?:[^\[\]]|\[(?:[^\[\]]|\[(?:[^\[\]]|\[[^\[\]]*\])*\])*\])*\]"
    tn = F.regexp_replace("tn", note_re, "")
    tn = F.regexp_replace(tn, r"<p>[ \t\n\x0b\f\r]*</p>", "")
    tn = F.regexp_replace(tn, r"<br>[ \t\n\x0b\f\r]*", "")
    tn = F.regexp_replace(tn, r"<small>[ \t\n\x0b\f\r]*</small>", "")
    tn = F.regexp_replace(tn, r"(?s)\[.*?\]", "")
    # F5: strip tags, squeeze spaces, drop blank lines
    tc = F.regexp_replace("tc", r"<[^>]+>", "")
    tc = F.regexp_replace(tc, " +", " ")
    tc_lines = F.filter(
        F.transform(F.split(tc, "\n", -1), lambda x: F.trim(x)), lambda x: x != ""
    )
    # intra-doc repeated-line removal (textnorm.drop_repeated_lines_within)
    from textractssmlprocessor_spark.operators.textnorm import (
        drop_repeated_lines_within,
    )

    # C4 line/document rules (content.c4_line_columns, Raffel et al. 2020)
    # + the C4 bad-words document filter (content.badword_columns)
    from textractssmlprocessor_spark.operators.content import (
        badword_columns,
        c4_line_columns,
    )

    c4 = c4_line_columns(F.col("tl"))
    bw = badword_columns(F.col("tb"), ("BadWord!", "Crummy Stuff"))
    return d.select(
        "doc_id",
        F.array_join(kept, "\n").alias("no_headers"),
        tn.alias("no_notes"),
        F.array_join(tc_lines, "\n").alias("cleaned"),
        drop_repeated_lines_within(F.col("tr")).alias("no_repeats"),
        *[c.alias(name) for name, c in c4.items()],
        *[c.alias(name) for name, c in bw.items()],
    )


def q_split_sections(spark, sf_dir):
    # X2 split_into_sections (reference text_processing.py:21-23) + 1-based
    # section numbers (positional explode)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<h4><center>ONE</center></h4>"), F.col("text"),
            F.lit("<h4><center>TWO</center></h4>tail of part two"),
        ).alias("t"),
    )
    secs = F.filter(
        F.transform(F.split("t", "<h4><center>", -1), lambda x: F.trim(x)),
        lambda x: (x != "") & (x != "<br>"),
    )
    out = d.select("doc_id", F.posexplode(secs).alias("pos", "section_text"))
    return out.select(
        "doc_id", (F.col("pos") + 1).cast("bigint").alias("section_no"), "section_text"
    )


def q_speak_tag_check(spark, sf_dir):
    # A5/rule: <speak> tag counting (reference ssml_validator.py:71-84) over a
    # deterministically dirtied ssml column
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.lit("<speak><speak>"), F.col("text"))
        )
        .when(F.col("doc_id") % 10 == 5, F.col("text"))
        .otherwise(F.concat(F.lit("<speak>"), F.col("text"), F.lit("</speak>")))
        .alias("ssml"),
    )
    opens = F.size(F.split("ssml", "<speak>", -1)) - 1
    closes = F.size(F.split("ssml", "</speak>", -1)) - 1
    return d.select(
        "doc_id",
        opens.cast("bigint").alias("n_open"),
        closes.cast("bigint").alias("n_close"),
        ((opens == 1) & (closes == 1)).alias("ok"),
    )


def q_punctuation_rule(spark, sf_dir):
    # validator punctuation rule (reference ssml_validator.py:32-41)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("<speak>"), F.col("text"), F.lit("</s>. done</speak>")),
        )
        .otherwise(F.concat(F.lit("<speak>"), F.col("text"), F.lit("</speak>")))
        .alias("ssml"),
    )
    matches = F.regexp_extract_all("ssml", F.lit(r"(</?[^>]+>)[ \t\n\x0b\f\r]*([.,:;])"), F.lit(0))
    out = d.select("doc_id", F.explode(matches).alias("m"))
    out = out.withColumn("tag", F.regexp_extract("m", r"^(</?[^>]+>)", 1)).filter(
        ~F.col("tag").isin("<phoneme>", "</phoneme>", "<lang>", "</lang>")
    )
    return out.select("doc_id", "tag")


def q_single_letters_rule(spark, sf_dir):
    # validator stray-single-letter rule (reference ssml_validator.py:165-183);
    # [B-HJ-NP-Zb-hj-np-ru-z] == the reference pattern minus lookahead
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0, F.concat(F.col("text"), F.lit(" q x B end"))
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    # ASCII word-RUN form, not '\b...\b': a single letter matches iff it
    # is a complete [A-Za-z0-9_] run — exactly RE2's ASCII-\b reading
    # (which the oracle keeps), where Java's Unicode \b treats combining
    # marks / astral letters as word chars and diverges on Zalgo-adjacent
    # text (fuzz seed 21)
    from textractssmlprocessor_spark.operators.textstats import ASCII_NONWORD_PLUS

    hits = F.filter(
        F.split("t", ASCII_NONWORD_PLUS, -1),
        lambda w: w.rlike("^[B-HJ-NP-Zb-hj-np-ru-z]$"),
    )
    return d.select("doc_id", F.explode(hits).alias("letter"))


def q_translation_ratio(spark, sf_dir):
    # translation-length ratio check (reference ssml_validator.py:105-129)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("text").alias("latin"),
        F.when(F.col("doc_id") % 9 == 0, F.substring("text", 1, 20))
        .otherwise(F.concat(F.lit("<speak>"), F.col("text"), F.lit(" more words here</speak>")))
        .alias("ssml"),
    )
    clean_en = F.regexp_replace(
        F.regexp_replace("ssml", r"(?s)<[ \t\n\x0b\f\r]*sub[ \t\n\x0b\f\r]+[^>]*>.*?</[ \t\n\x0b\f\r]*sub[ \t\n\x0b\f\r]*>", ""),
        r"<[^>]+>", "",
    )
    lw = F.size(F.regexp_extract_all("latin", F.lit(WORD_RE), F.lit(0)))
    ew = F.size(F.regexp_extract_all(clean_en, F.lit(WORD_RE), F.lit(0)))
    return (
        d.select(
            "doc_id",
            lw.cast("bigint").alias("latin_words"),
            ew.cast("bigint").alias("english_words"),
            # try_divide: 0 latin words (empty text) must yield NULL ratio
            # (row then drops at the filter) exactly as DuckDB's /0 does
            F.round(F.try_divide(ew, lw.cast("double")), 6).alias("ratio"),
        )
        .filter((F.col("ratio") < 0.95) | (F.col("ratio") > 3.0))
    )


def q_running_durations(spark, sf_dir):
    # A6 cumulative audio time (reference timestamp.py:252-281): integer
    # milliseconds so the running sum is exact in both engines. The global
    # running sum is BLOCKED (per-block partitioned window + prefix-scanned
    # block offsets) — no corpus-wide single-task window.
    from textractssmlprocessor_spark.operators.ordering import (
        block_of,
        blocked_running_sum,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", (F.col("n_chars") * 20).cast("bigint").alias("duration_ms")
    )
    run = blocked_running_sum(
        d, block_of("doc_id"), ["doc_id"], "duration_ms", out="end_ms"
    )

    # T5 format_time (reference timestamp.py:227-231): HH:MM:SS,mmm with
    # millisecond truncation, folded onto the running-duration alignment
    def fmt(ms):
        total = ms / F.lit(1000.0)
        # NULL propagates (align._format_time_col rule): format_string
        # would render NULL duration as 'null:null:null,null'
        return F.when(ms.isNull(), F.lit(None).cast("string")).otherwise(F.format_string(
            "%02d:%02d:%02d,%03d",
            F.floor(total / 3600),
            F.floor((total % 3600) / 60),
            F.floor(total % 60),
            F.floor((total % 1) * 1000),
        ))

    start = F.col("end_ms") - F.col("duration_ms")
    return run.select(
        "doc_id",
        "duration_ms",
        start.alias("start_ms"),
        "end_ms",
        fmt(start).alias("srt_start"),
        fmt(F.col("end_ms")).alias("srt_end"),
    )


def q_ordering_nav(spark, sf_dir):
    # Merged global-ordering suite — all three blocked primitives that
    # replace corpus-wide single-task windows: J2 prev/next navigation
    # (reference app.py:119-125) via blocked lag/lead, O5 per-book part
    # renumbering (ssml_processing.py:182-197) via a per-source window, and
    # J5 global part numbering (ssml_processing.py:91-110) via blocked
    # row_number (the resume-skip filter on it is exercised by
    # polly_assignment's resume_from_part).
    from textractssmlprocessor_spark.operators.ordering import (
        block_of,
        blocked_lag_lead,
        blocked_row_number,
    )

    d = _docs(spark, sf_dir).select("doc_id", "source")
    nav = blocked_lag_lead(
        d, block_of("doc_id"), ["doc_id"], "source",
        prev_out="prev_source", next_out="next_source",
    )
    gp = blocked_row_number(
        _docs(spark, sf_dir).select("doc_id"),
        block_of("doc_id"), ["doc_id"], out="global_part",
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        nav.withColumn("part_no", F.row_number().over(w).cast("bigint"))
        .join(gp, "doc_id")
        .select(
            "doc_id", "source", "prev_source", "next_source",
            "part_no", "global_part",
        )
    )


def q_numeric_chunk_sort(spark, sf_dir):
    # O1/S3 numeric sort of chunk filenames (reference utils.py:342-349)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("book_"), (F.col("doc_id") % 7).cast("string"),
            F.lit("_chunk_"), (F.pmod(F.col("doc_id") * 37, F.lit(991))).cast("string"),
            F.lit(".txt"),
        ).alias("fname"),
    )
    # numeric key is the leading sort prefix -> it IS the block (<=991
    # distinct values here); row_number within key by fname + key offsets
    from textractssmlprocessor_spark.operators.ordering import blocked_row_number

    # doc_id is the final tie-break: fnames are synthesized mod 7/991, so
    # two doc_ids congruent mod 6937 (the fuzz corpora's sparse huge ids)
    # produce the SAME fname and an (key, fname)-only order leaves their
    # relative rank engine-dependent (fuzz seed 13).
    key = F.regexp_extract("fname", r"_chunk_(\d+)\.txt$", 1).cast("bigint")
    return blocked_row_number(d, key, ["fname", "doc_id"], out="rank").select(
        "doc_id", "fname", "rank"
    )


def q_synchronized_texts(spark, sf_dir):
    # T14 read-back: get_synchronized_texts (reference utils.py:226-234) —
    # pair original + annotated streams per book in chunk order
    from textractssmlprocessor_spark.operators.extract import synchronized_texts

    chunks = _docs(spark, sf_dir).select(
        F.col("source").alias("url"),
        F.col("doc_id").alias("chunk_number"),
        F.col("text").alias("extracted_text"),
        F.concat(F.lit("<speak>"), F.col("text"), F.lit("</speak>")).alias("ssml"),
    )
    return synchronized_texts(chunks)


def q_media_metadata(spark, sf_dir):
    # multimodal plumbing: binary payload -> typed metadata (hash/size via
    # map_rows over mapInArrow; md5 hex matches the SQL oracle)
    from textractssmlprocessor_spark.operators.multimodal import media_metadata

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return media_metadata(d).select("url", "n_bytes", "content_hash")


def q_display_titles(spark, sf_dir):
    # Merged scalar transforms, each on its own seeded input: T13 SSML ->
    # clean display text (reference file_processing.py:36-42 — newline at
    # tag boundaries, squeeze blank-line runs, strip) and F12 leading
    # all-caps title run (text_processing.py:25-40 — take lines while
    # isupper & non-empty, stop at first miss). One scan of documents.
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<speak><p>"), F.col("text"),
            F.lit("</p>\n\n<p>second para</p><break/></speak>"),
        ).alias("ssml"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("BOOK ONE\nTHE ARGUMENT\n"), F.col("text")),
        )
        .otherwise(F.concat(F.lit("plain opening line\n"), F.col("text")))
        .alias("t"),
    )
    pieces = F.filter(F.split("ssml", r"<[^>]+>", -1), lambda p: p != "")
    disp = F.array_join(pieces, "\n")
    disp = F.regexp_replace(disp, r"(?s)\n[ \t\n\x0b\f\r]*\n", "\n\n")
    disp = F.regexp_replace(disp, r"(?s)(\n[ \t\n\x0b\f\r]*){2,}", "\n\n")
    lines = F.transform(F.split("t", "\n", -1), lambda x: F.trim(x))
    # ASCII-anchored caps test (engine-portable; see cleaning_suite F1)
    is_title = lambda x: x.rlike("[A-Z]") & ~x.rlike("[a-z]")  # noqa: E731
    # position of first non-title line = length of the leading title run
    flags = F.transform(lines, lambda x: F.when(is_title(x), F.lit(1)).otherwise(F.lit(0)))
    pos = F.array_position(flags, 0)  # 0 when every line is a title line
    run_len = (
        F.when(pos == 0, F.size(flags)).otherwise(pos - 1)
    ).cast("int")
    return d.select(
        "doc_id",
        F.trim(disp).alias("display_text"),
        # coalesce mirrors the oracle's slice-coalesce: NULL text (NULL
        # lines array) must yield title '' on both engines
        F.coalesce(
            F.array_join(F.slice(lines, 1, run_len), "\n"), F.lit("")
        ).alias("title"),
        run_len.cast("bigint").alias("n_title_lines"),
    )


def _blocks(spark, sf_dir):
    """Deterministic synthetic OCR blocks table from documents: 8-word lines,
    5 lines per page, plus a running head and a page-number folio per page
    (exercises the north-star block-to-line + boilerplate path)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    words = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.posexplode(F.split("text", " ", -1)).alias("pos", "wtext"),
    )
    wb = words.select(
        "url",
        F.floor(F.col("pos") / 40).cast("bigint").alias("page_no"),
        F.col("pos").cast("bigint").alias("block_id"),
        ((F.col("pos") % 8) * 0.12).alias("left"),
        (0.12 + F.floor((F.col("pos") % 40) / 8) * 0.15).alias("top"),
        F.col("wtext").alias("text"),
    )
    pages = wb.select("url", "page_no").distinct()
    header = pages.select(
        "url", "page_no", F.lit(9000000).cast("bigint").alias("block_id"),
        F.lit(0.0).alias("left"), F.lit(0.02).alias("top"),
        F.lit("THE RUNNING HEAD").alias("text"),
    )
    folio = pages.select(
        "url", "page_no", F.lit(9000001).cast("bigint").alias("block_id"),
        F.lit(0.45).alias("left"), F.lit(0.95).alias("top"),
        (F.col("page_no") + 1).cast("string").alias("text"),
    )
    return wb.unionByName(header).unionByName(folio)


_BLOCKS_SQL = """
    wraw AS (
        SELECT 'doc://' || doc_id::VARCHAR AS url,
               string_split(text, ' ') AS ws
        FROM documents
    ),
    wb AS (
        SELECT url,
               ((g.i - 1) // 40)::BIGINT AS page_no,
               (g.i - 1)::BIGINT AS block_id,
               ((g.i - 1) % 8) * 0.12 AS "left",
               0.12 + floor(((g.i - 1) % 40) / 8) * 0.15 AS top,
               ws[g.i] AS text
        FROM wraw, unnest(generate_series(1, len(ws))) AS g(i)
    ),
    pages AS (SELECT DISTINCT url, page_no FROM wb),
    blocks AS (
        SELECT * FROM wb
        UNION ALL
        SELECT url, page_no, 9000000::BIGINT, 0.0, 0.02, 'THE RUNNING HEAD' FROM pages
        UNION ALL
        SELECT url, page_no, 9000001::BIGINT, 0.45, 0.95, (page_no + 1)::VARCHAR FROM pages
    )
"""


def q_ocr_lines(spark, sf_dir):
    from textractssmlprocessor_spark.operators.ocr import blocks_to_lines

    return blocks_to_lines(_blocks(spark, sf_dir)).select(
        "url", "page_no", "line_no", "line_text", F.round("top", 6).alias("top")
    )


def _pdf_fixtures():
    """Deterministic PDF payloads with KNOWN text content: 2-3 pages each,
    a running head in the top band, a folio at the bottom, two body lines
    per page; alternating Flate/plain streams. The expected reconstructed
    text is authored here (NOT produced by the parser), so the oracle is
    independent of the code under test. Returns (rows, expected) where
    rows = [(url, payload)] and expected = {url: text}."""
    from textractssmlprocessor_spark.operators.pdf import build_simple_pdf

    rows, expected = [], {}
    for k in range(4):
        pages, lines = [], []
        for p in range(2 + k % 2):
            opening = f"Fixture {k} page {p} opening line"
            closing = f"closing line {p} of fixture {k}"
            pages.append(
                [
                    (200, 760, 10, "THE RUNNING HEAD"),
                    (72, 700, 12, opening),
                    (72, 680, 12, closing),
                    (300, 30, 10, str(p + 1)),
                ]
            )
            lines += [opening, closing]
        url = f"pdf://{k}"
        rows.append((url, bytearray(build_simple_pdf(pages, compress=(k % 2 == 0)))))
        expected[url] = "\n".join(lines)
    return rows, expected


def _pdf_expected_sql() -> str:
    """UNION ALL of literal (variant, url, reconstructed_text) rows for the
    PDF fixtures (ASCII + newlines only, safe as plain SQL literals)."""
    _, expected = _pdf_fixtures()
    parts = [
        "SELECT 'pdf' AS variant, '%s' AS url, '%s' AS reconstructed_text"
        % (url, text.replace("'", "''"))
        for url, text in sorted(expected.items())
    ]
    return " UNION ALL ".join(parts)


def q_ocr_reconstruct(spark, sf_dir):
    # Two variants of the north-star layout path: 'blocks' reconstructs
    # the synthetic Textract-style blocks table; 'pdf' runs the FULL
    # pipeline from raw binary — operators/pdf.py content-stream parse
    # (map_rows over mapInArrow, zero shuffle) -> positioned blocks ->
    # line banding -> running-head/folio strip -> document text, against
    # fixture PDFs whose intended text the oracle states as literals.
    from textractssmlprocessor_spark.materialize import cut
    from textractssmlprocessor_spark.operators.ocr import reconstruct_documents
    from textractssmlprocessor_spark.operators.pdf import pdf_blocks

    base = reconstruct_documents(_blocks(spark, sf_dir)).select(
        F.lit("blocks").alias("variant"),
        "url",
        F.col("text").alias("reconstructed_text"),
    )
    rows, _ = _pdf_fixtures()
    pdfs = spark.createDataFrame(rows, "url string, payload binary")
    # the parsed blocks feed three line-table consumers: parse PDFs once
    pdf_rec = reconstruct_documents(cut(pdf_blocks(pdfs))).select(
        F.lit("pdf").alias("variant"),
        "url",
        F.col("text").alias("reconstructed_text"),
    )
    return base.unionByName(pdf_rec)


# ---------------------------------------------------------------------------
# UDF-backed queries (not SQL-expressible -> fixture-golden parquet
# oracles; byte-level reference parity additionally covered by pytest)
# ---------------------------------------------------------------------------


def q_extract_chunks(spark, sf_dir):
    # Contract projection only: spans (array<struct>) serializes to its JSON
    # form because the driver's pandas canonicalizer cannot factorize list
    # cells (round-1 `err`); the operator itself keeps the typed column.
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    return extract_chunks(_pages(spark, sf_dir), num_partitions=32).withColumn(
        "spans", F.to_json("spans")
    )


def q_extract_documents(spark, sf_dir):
    # warc_ts is projected out of the contract row: timestamp canonicalization
    # differs across engines/timezones, and the column is pass-through anyway.
    from textractssmlprocessor_spark.operators.extract import clean_pages

    return clean_pages(_pages(spark, sf_dir), num_partitions=32).select(
        "url", "lang", "extracted_text"
    )


def q_split_ssml(spark, sf_dir):
    from textractssmlprocessor_spark.operators.extract import (
        extract_chunks,
        split_ssml_chunks,
    )

    chunks = extract_chunks(_pages(spark, sf_dir), num_partitions=32)
    return split_ssml_chunks(chunks).select(
        "url", "chunk_number", "part_number", "ssml_part"
    )


def q_validate_corpus(spark, sf_dir):
    from textractssmlprocessor_spark.materialize import cut
    from textractssmlprocessor_spark.operators.extract import extract_chunks
    from textractssmlprocessor_spark.operators.validate import validate

    # the chunk table has 3 readers (the per-chunk rules' pass and the
    # duplicates rule's two): cut the UDF pipeline once instead of planning
    # it per reader
    chunks = cut(extract_chunks(_pages(spark, sf_dir), num_partitions=32))
    return validate(chunks)


def q_srt_generate(spark, sf_dir):
    from textractssmlprocessor_spark.materialize import cut
    from textractssmlprocessor_spark.operators.align import generate_srt
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    chunks = cut(extract_chunks(_pages(spark, sf_dir), num_partitions=32))
    manifest = chunks.select(
        "url",
        F.col("chunk_number").alias("part_no"),
        (F.length("extracted_text") * 0.06).alias("duration"),
    )
    return generate_srt(chunks, manifest, "english", use_shorter_subtitles=True)


def q_srt_variants(spark, sf_dir):
    # K4 4-file layout as one row per project (english/latin x
    # original/shorter); golden-oracle checked
    from textractssmlprocessor_spark.materialize import cut
    from textractssmlprocessor_spark.operators.align import srt_variants
    from textractssmlprocessor_spark.operators.extract import extract_chunks

    chunks = cut(extract_chunks(_pages(spark, sf_dir), num_partitions=32))
    manifest = chunks.select(
        "url",
        F.col("chunk_number").alias("part_no"),
        (F.length("extracted_text") * 0.06).alias("duration"),
    )
    return srt_variants(chunks, manifest)


def q_polly_assignment(spark, sf_dir):
    # K5/J5/K7 structural semantics: voice->engine map, global part
    # numbering + resume skip, per-book renumbering, output naming
    # (reference ssml_processing.py:62-197)
    from textractssmlprocessor_spark.operators.polly import (
        assign_voices,
        renumber_parts_per_book,
        resume_from_part,
    )

    chunks = _docs(spark, sf_dir).select(
        F.col("source").alias("url"),
        F.col("doc_id").alias("chunk_number"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("Ruth"))
        .when(F.col("doc_id") % 5 == 1, F.lit("Gregory"))
        .when(F.col("doc_id") % 5 == 2, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 5 == 3, F.lit("UnknownVoice"))
        .otherwise(F.lit("Matthew"))
        .alias("voice"),
    )
    out = renumber_parts_per_book(resume_from_part(assign_voices(chunks), 50))
    return out.select(
        "url",
        "chunk_number",
        "voice_id",
        "engine",
        F.col("global_part_number").cast("bigint").alias("global_part_number"),
        F.col("book_part_number").cast("bigint").alias("book_part_number"),
        "output_file",
    )


def q_sample_frames(spark, sf_dir):
    # multimodal 1->N frame sampling plumbing (deterministic byte slicing)
    from textractssmlprocessor_spark.operators.multimodal import sample_frames

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return sample_frames(d, every_n_bytes=128).select(
        "url",
        F.col("frame_no").cast("bigint").alias("frame_no"),
        F.length("frame").cast("bigint").alias("frame_bytes"),
    )


def q_sessionize_events(spark, sf_dir):
    # gap-based sessionization (batch form of the applyInPandasWithState
    # streaming operator; stream==batch equality proven in test_streaming)
    from textractssmlprocessor_spark.streaming.sessionize import (
        sessionize_events_batch,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize_events_batch(ev, gap_seconds=1800.0)
    # NTZ-to-NTZ diff: identical µs on any driver session timezone
    # (unix_micros(cast) would shift by the session offset vs the oracle)
    us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        "cast({} as timestamp_ntz))"
    )
    return s.select(
        "user_id",
        F.expr(us.format("session_start")).alias("start_us"),
        F.expr(us.format("session_end")).alias("end_us"),
        "n_events",
        "sum_value",
    )


def q_winnow(spark, sf_dir):
    # Merged winnowing fingerprints (MOSS scheme): char-gram rolling-hash
    # variant plus the word-gram variant (~6x-cheaper scale path), labeled
    # by a variant column. Each branch is the unchanged operator.
    from textractssmlprocessor_spark.operators.dedup import (
        winnow_fingerprint_table,
        winnow_word_fingerprint_table,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    chars = winnow_fingerprint_table(d, k=8, window=4).select(
        F.lit("char").alias("variant"), F.col("id").alias("doc_id"), "fingerprint"
    )
    words = winnow_word_fingerprint_table(d, k=4, window=4).select(
        F.lit("word").alias("variant"), F.col("id").alias("doc_id"), "fingerprint"
    )
    return chars.unionByName(words)


def q_media_features(spark, sf_dir):
    # REAL multimodal feature extraction, variant-labeled: (1) hist —
    # L2-normalized 64-bin byte histogram over the binary payload
    # (consumable by cosine_topk/ANN); (2) pcm — signal features decoded
    # from REAL PCM16 WAV bytes (multimodal.audio_pcm_features). The WAV
    # payloads are constructed NATIVELY (header + int16-LE samples as hex
    # -> unhex, zero Python) from the sample formula
    # s_i = ((doc_id*7 + i*37) % 65536) - 32768, N = 32 + doc_id%33
    # samples at 8000 Hz — the DuckDB oracle replays the FORMULA's
    # arithmetic, never the bytes, so the operator's decode+features are
    # what the gate actually checks.
    # (3) undec — the decode-blind-spot audit: VP8-lossy WebP payloads
    # (valid container, arithmetic-coded pixels we honestly do not decode)
    # constructed NATIVELY from header hex + formula dims for doc_id%7==0;
    # image_pixels must tag each with undecodable_codec='webp-vp8-lossy'
    # (per-url rows) and the corpus rollup counts them — quantifying the
    # blind spot instead of folding it into NULLs.
    from textractssmlprocessor_spark.operators.multimodal import (
        audio_pcm_features,
        byte_histogram_features,
        image_pixels,
    )

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    f = byte_histogram_features(d)
    hist = (
        f.select("url", F.posexplode("features").alias("dim", "value"))
        .filter(F.col("value") != 0)
        .select(
            F.lit("hist").alias("variant"),
            "url",
            F.col("dim").cast("bigint").alias("dim"),
            F.round("value", 6).alias("value"),
        )
    )

    def _le_hex(col, nbytes):
        return F.concat(
            *[
                F.lpad(F.hex(F.shiftright(col, 8 * k) % 256), 2, "0")
                for k in range(nbytes)
            ]
        )

    n = (F.lit(32) + F.col("doc_id") % 33).cast("bigint")
    ds = n * 2
    data_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n - 1),
            lambda i: _le_hex(
                (F.col("doc_id") * 7 + i * 37 + 32768) % 65536, 2
            ),
        ),
        "",
    )
    # 44-byte canonical PCM16 mono header: RIFF size + fixed fmt fields
    # (rate 8000 -> 401F0000 LE, byte rate 16000 -> 803E0000) + data size
    wav_hex = F.concat(
        F.lit("52494646"), _le_hex(ds + 36, 4), F.lit("57415645"),
        F.lit("666D7420"), F.lit("10000000"), F.lit("0100"), F.lit("0100"),
        F.lit("401F0000"), F.lit("803E0000"), F.lit("0200"), F.lit("1000"),
        F.lit("64617461"), _le_hex(ds, 4), data_hex,
    )
    wav = _docs(spark, sf_dir).select(
        F.concat(F.lit("pcm://"), F.col("doc_id").cast("string")).alias("url"),
        F.unhex(wav_hex).alias("payload"),
    )
    p = audio_pcm_features(wav)["url", "pcm"]
    pcm = p.select(
        F.lit("pcm").alias("variant"),
        "url",
        F.posexplode(
            F.array(
                F.col("pcm.n_samples").cast("double"),
                F.round("pcm.duration_s", 6),
                F.round("pcm.rms", 6),
                F.col("pcm.peak"),
                F.col("pcm.zero_crossings").cast("double"),
                F.round("pcm.clip_ratio", 6),
                F.round("pcm.silence_ratio", 6),
            )
        ).alias("dim", "value"),
    ).select("variant", "url", F.col("dim").cast("bigint").alias("dim"), "value")

    # minimal VP8-lossy WebP: RIFF + WEBP + 'VP8 ' chunk + 3-byte frame tag
    # + sync 9D012A + 14-bit LE dims (w = 16 + doc_id%8, h = 16) — 30 bytes,
    # the exact container image_dimensions parses and no decoder covers
    webp = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("webp://"), F.col("doc_id").cast("string")).alias("url"),
        F.unhex(
            F.concat(
                F.lit("524946461600000057454250565038200A0000000000009D012A"),
                _le_hex((F.lit(16) + F.col("doc_id") % 8).cast("bigint"), 2),
                _le_hex(F.lit(16).cast("bigint"), 2),
            )
        ).alias("payload"),
    )
    px = image_pixels(webp)
    undec = px.select(
        F.lit("undec").alias("variant"),
        "url",
        F.lit(0).cast("bigint").alias("dim"),
        F.when(F.col("undecodable_codec") == "webp-vp8-lossy", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("value"),
    )
    # Grand total derives from the audited per-row values (not a second
    # filter over px), and coalesces to 0.0: an empty slice must match the
    # oracle's count(*) = 0, not hash-mismatch on a NULL sum.
    total = (
        undec.groupBy()
        .agg(F.coalesce(F.sum("value"), F.lit(0.0)).alias("value"))
        .select(
            F.lit("undec_total").alias("variant"),
            F.lit("corpus://webp-vp8-lossy").alias("url"),
            F.lit(0).cast("bigint").alias("dim"),
            "value",
        )
    )
    return hist.unionByName(pcm).unionByName(undec).unionByName(total)


def q_resize_media(spark, sf_dir):
    # stubbed resize with REAL plumbing: integer-resampled payload; content
    # checked end-to-end via md5 over the hex encoding (engine-portable)
    from textractssmlprocessor_spark.operators.multimodal import resize_media_stub

    d = (
        _docs(spark, sf_dir)
        .filter(F.length("text") > 0)
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    r = resize_media_stub(d, width=8, height=8)
    return r.select(
        "url",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("content_hex_md5"),
    )


def q_boilerplate_lines(spark, sf_dir):
    # Host-level suite, variant-labeled: (1) clean — CCNet-style
    # host-frequency boilerplate removal: nav/footer lines seeded onto
    # every page of a host (3/4 of pages carry them, over the 0.5
    # threshold; body text is unique and survives); hosts come from the
    # source column so each has ~25 pages. (2) host_quality — RefinedWeb-
    # style domain curation (weburl.host_quality_rollup): per-doc alpha
    # ratio + a words>=30 pass flag rolled up to one verdict row per host
    # (one groupBy(host), map-side partials).
    from textractssmlprocessor_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )
    from textractssmlprocessor_spark.operators.weburl import (
        host_quality_rollup,
        url_host,
    )

    d = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.when(
            F.col("doc_id") % 4 != 0,
            F.concat(
                F.lit("HOME | ABOUT | CONTACT\n"), F.col("text"),
                F.lit("\nCopyright "), F.col("source"), F.lit(" press"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    nul_d = F.lit(None).cast("double")
    clean = remove_boilerplate_lines(d, min_docs=2, min_frac=0.5).select(
        F.lit("clean").alias("variant"),
        F.col("url").alias("key"),
        F.col("cleaned_text").alias("text"),
        F.col("n_dropped").cast("bigint").alias("n"),
        nul_d.alias("score"),
        nul_d.alias("frac"),
        F.lit(None).cast("bigint").alias("flag"),
    )
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    words = F.size(F.regexp_extract_all("text", F.lit(WORD_RE), F.lit(0)))
    perdoc = d.select(
        url_host(F.col("url")).alias("host"),
        F.round(F.try_divide(alpha, F.length("text").cast("double")), 6).alias("q"),
        (words >= 30).alias("ok"),
    )
    hq = host_quality_rollup(
        perdoc, "q", pass_col="ok", min_mean=0.7, min_pass_frac=0.5,
        score_scale=1_000_000,  # q is 6-rounded: exact-integer mean path
    ).select(
        F.lit("host_quality").alias("variant"),
        F.col("host").alias("key"),
        F.lit(None).cast("string").alias("text"),
        F.col("n_docs").alias("n"),
        F.col("mean_score").alias("score"),
        F.col("pass_frac").alias("frac"),
        F.col("host_verdict").cast("bigint").alias("flag"),
    )
    return clean.unionByName(hq)


def q_extract_links(spark, sf_dir):
    # Web-graph suite, variant-labeled: (1) links — outlink extraction
    # over seeded html (absolute link with nested anchor markup, href
    # COLLIDING on doc_id%20 so targets group; relative single-quoted
    # link on doc_id%10); (2) anchors — per-target anchor-text
    # aggregation (in-degree + lexicographic-min anchor, the anchor-text
    # corpus construction step); (3) pagerank — 3 power iterations over a
    # seeded host graph (h(doc_id%17) -> h(doc_id%23); hosts h17..h22
    # appear only as targets, exercising the dangling-mass path).
    from textractssmlprocessor_spark.operators.graph import pagerank
    from textractssmlprocessor_spark.operators.weburl import extract_links

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit('</p><a href="https://out.example.com/page'),
            (F.col("doc_id") % 20).cast("string"), F.lit('">Read <b>more</b> '),
            (F.col("doc_id") % 3).cast("string"), F.lit("</a><a class=x href='/local/"),
            (F.col("doc_id") % 10).cast("string"), F.lit("'>  local  </a>"),
            F.lit("<h1>Title "), (F.col("doc_id") % 7).cast("string"),
            F.lit("</h1><h2 class=s> Sub <em>part "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("</em>  line </h2>"),
            F.lit("<table class=t><tr><th> Name </th><th>Qty</th></tr>"),
            F.lit("<tr><td>item <b>"), (F.col("doc_id") % 4).cast("string"),
            F.lit("</b></td><td>"), (F.col("doc_id") % 9).cast("string"),
            F.lit("</td></tr></table>"),
        ).alias("html"),
    )
    links = extract_links(d.select("url", "html"))
    nul_b = F.lit(None).cast("bigint")
    nul_s = F.lit(None).cast("string")
    lk = links.select(
        F.lit("links").alias("variant"),
        "url",
        F.col("link_no").cast("bigint").alias("link_no"),
        "href",
        "anchor",
        nul_b.alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    # (6) headings — h1-h6 outline rows (content.heading_outline) over
    # the same seeded pages: nested <em> markup exercises tag-strip +
    # whitespace collapse; level rides the n column, pos rides link_no.
    # (7) table_rows — content.table_rows over the seeded header+data
    # table: cells joined by ' | ' ride anchor, row_no rides link_no,
    # table_no rides n (arrays cannot cross the contract canonicalizer)
    from textractssmlprocessor_spark.operators.content import (
        heading_outline,
        table_rows,
    )

    tr = table_rows(d.select("url", "html")).select(
        F.lit("table_rows").alias("variant"),
        "url",
        F.col("row_no").alias("link_no"),
        F.lit(None).cast("string").alias("href"),
        F.array_join("cells", " | ").alias("anchor"),
        F.col("table_no").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    hd = heading_outline(d.select("url", "html")).select(
        F.lit("headings").alias("variant"),
        "url",
        F.col("pos").alias("link_no"),
        F.lit(None).cast("string").alias("href"),
        F.col("heading").alias("anchor"),
        F.col("level").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    an = links.groupBy("href").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.min("anchor").alias("top_anchor"),
    ).select(
        F.lit("anchors").alias("variant"),
        nul_s.alias("url"),
        nul_b.alias("link_no"),
        "href",
        F.col("top_anchor").alias("anchor"),
        F.col("n_links").alias("n"),
        F.lit(None).cast("double").alias("score"),
    )
    edges = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string")).alias("src"),
        F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string")).alias("dst"),
    )
    pr = pagerank(edges, iterations=3).select(
        F.lit("pagerank").alias("variant"),
        F.col("node").alias("url"),
        nul_b.alias("link_no"),
        nul_s.alias("href"),
        nul_s.alias("anchor"),
        nul_b.alias("n"),
        F.col("rank").alias("score"),
    )
    # (4) hits — hubs/authorities over the same host graph (graph.hits,
    # Kleinberg 1999; sum-normalized, per-half-step round-6 lockstep)
    from textractssmlprocessor_spark.operators.graph import hits

    hs = hits(edges, iterations=3)
    hub_rows = hs.select(
        F.lit("hits_hub").alias("variant"),
        F.col("node").alias("url"),
        nul_b.alias("link_no"),
        nul_s.alias("href"),
        nul_s.alias("anchor"),
        nul_b.alias("n"),
        F.col("hub").alias("score"),
    )
    auth_rows = hs.select(
        F.lit("hits_auth").alias("variant"),
        F.col("node").alias("url"),
        nul_b.alias("link_no"),
        nul_s.alias("href"),
        nul_s.alias("anchor"),
        nul_b.alias("n"),
        F.col("auth").alias("score"),
    )
    return (
        lk.unionByName(an)
        .unionByName(pr)
        .unionByName(hub_rows)
        .unionByName(auth_rows)
        .unionByName(hd)
        .unionByName(tr)
    )


# main_content page chrome, shared verbatim between the Spark query and the
# DuckDB oracle (no single quotes — the strings embed into SQL literals)
_MC_HEADER = (
    '<header><h1>Example Site</h1><nav><ul>'
    '<li><a href="/">Home</a></li><li><a href="/about">About us</a></li>'
    '<li><a href="/contact">Contact page</a></li>'
    '<li><a href="/login">Member log in</a></li></ul></nav></header>'
    '<div class="promo">Subscribe to our newsletter today</div>'
)
_MC_ASIDE = (
    '<aside><ul><li><a href="/rel/1">Related article about topic one</a></li>'
    '<li><a href="/rel/2">Another related article to click</a></li>'
    '<li><a href="/rel/3">Third suggested story for you</a></li></ul></aside>'
)
_MC_FOOTER = (
    '<footer><p><a href="/privacy">Privacy policy</a> '
    '<a href="/terms">Terms of use</a> <a href="/sitemap">Site map</a> '
    '(c) 2024 Example Corp</p></footer>'
)


def q_main_content(spark, sf_dir):
    # jusText/Boilerpipe-style density classification: every page wears
    # header/nav/promo/footer chrome (linky or short -> dropped), docs
    # divisible by 3 add a related-links aside (dropped); the article body
    # is the document text (kept when >= 10 words). Pure map-side.
    # Plus page_metadata (title/description/lang/og:title) over a separate
    # head-payload column (%4 cases: full double-quoted head with a
    # whitespace-mangled title / content-first meta ordering / unquoted
    # uppercase lang attr / no head), joined back by url. In production
    # both operators run in ONE scan projection; the join here is
    # contract-slot economy (main_content's output schema is fixed).
    from textractssmlprocessor_spark.operators.content import (
        main_content,
        page_metadata,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.concat(
            F.lit("https://ex.org/doc/"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    pages = d.select(
        "url",
        F.concat(
            F.lit(_MC_HEADER),
            F.lit("<article><p>"), F.col("text"), F.lit("</p></article>"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_MC_ASIDE)).otherwise(
                F.lit("")
            ),
            F.lit(_MC_FOOTER),
        ).alias("html"),
    )
    sid = F.col("doc_id").cast("string")
    mh = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<html lang="EN-us"><head><title>  Doc '), sid,
                F.lit("\n  and   more  </title>"),
                F.lit('<meta name="description" content="Summary of doc '),
                sid,
                F.lit('"><meta property="og:title" content="OG '), sid,
                F.lit('"><meta property="article:published_time" '),
                F.lit('content="2024-03-07T08:15:00Z"></head>'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<html><head><meta content="Reversed '), sid,
                F.lit('" name="description">'),
                F.lit('<meta name="robots" content=" NOINDEX , nofollow ">'),
                F.lit("</head>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("<html LANG=fr-FR ><head><title>Solo "), sid,
                F.lit('</title></head><time datetime="2023-12-01">x</time>'),
            ),
        )
        .otherwise(F.lit("<div>No head</div>"))
    )
    meta = d.select(
        "url", *[c.alias(k) for k, c in page_metadata(mh).items()]
    )
    mc = main_content(pages, min_words=10, max_link_density=0.33)
    return mc.join(meta, "url")


def q_dup_sentences(spark, sf_dir):
    # J3 corpus-wide duplicate sentences (order-dependent first-wins;
    # lookbehind split is Python/Java-regex-only -> no RE2/SQL oracle)
    from textractssmlprocessor_spark.operators.validate import rule_duplicates

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(1).alias("chunk_number"),
        F.when(
            F.col("doc_id") % 8 == 0,
            F.lit("A repeated sentinel sentence. Unique tail."),
        )
        .otherwise(F.col("text"))
        .alias("ssml"),
    )
    return rule_duplicates(d)


def q_dedup_sentences_corpus(spark, sf_dir):
    # write side of dup_sentences: corpus-wide first-wins sentence removal
    # over the same seeded-duplicate input
    from textractssmlprocessor_spark.operators.dedup import (
        drop_duplicate_sentences,
    )

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(1).alias("chunk_number"),
        F.when(
            F.col("doc_id") % 8 == 0,
            F.lit("A repeated sentinel sentence. Unique tail."),
        )
        .otherwise(F.col("text"))
        .alias("ssml"),
    )
    return drop_duplicate_sentences(d)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract registry — 50 entries (AT the cap: adding another operator
    means merging into an existing suite query, never appending a 51st),
    every implemented operator covered.

    CAPACITY INVARIANT: keep this dict at <= 50 entries, most-important
    first. The driver's correctness sweep was observed (round 2) to record
    exactly the first 50 entries in insertion order, silently dropping the
    rest — which is why related per-doc queries are merged into wide
    "suite" entries (doc_stats, cleaning_suite, text_profile, ann_topk,
    ordering_nav, winnow, display_titles) rather than listed singly. Each
    merged query still exercises the identical operator expressions; the
    oracle checks the union of their columns in one row set.
    """
    return {
        # UDF extraction pipeline — the flagship path (fixture-golden
        # oracles; byte-parity additionally locked via pytest)
        "extract_chunks": q_extract_chunks,
        "extract_documents": q_extract_documents,
        "split_ssml": q_split_ssml,
        "validate_corpus": q_validate_corpus,
        "srt_generate": q_srt_generate,
        "srt_variants": q_srt_variants,
        "dup_sentences": q_dup_sentences,
        "dedup_sentences_corpus": q_dedup_sentences_corpus,
        # OCR block-to-line reconstruction (north-star path)
        "ocr_lines": q_ocr_lines,
        "ocr_reconstruct": q_ocr_reconstruct,
        # scans/aggregations/projections (SURVEY §2.1/§2.2/§2.5)
        "doc_stats": q_doc_stats,
        "corpus_report": q_corpus_report,
        "cleaning_suite": q_cleaning_suite,
        "text_profile": q_text_profile,
        "split_sections": q_split_sections,
        # validator rules (§2.7)
        "speak_tag_check": q_speak_tag_check,
        "punctuation_rule": q_punctuation_rule,
        "single_letters_rule": q_single_letters_rule,
        "translation_ratio": q_translation_ratio,
        # joins/windows/ordering (§2.6)
        "running_durations": q_running_durations,
        "ordering_nav": q_ordering_nav,
        "numeric_chunk_sort": q_numeric_chunk_sort,
        "polly_assignment": q_polly_assignment,
        "synchronized_texts": q_synchronized_texts,
        "display_titles": q_display_titles,
        # training-data ops: dedup / similarity / curation
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "simhash_groups": q_simhash_groups,
        "winnow": q_winnow,
        "contamination": q_contamination,
        "curate_corpus": q_curate_corpus,
        "ann_topk": q_ann_topk,
        "kmeans_centroids": q_kmeans_centroids,
        "knn_join": q_knn_join,
        "embedding_near_dupes": q_embedding_near_dupes,
        # training-data ops: text stats / privacy / packing / web
        "gopher_quality": q_gopher_quality,
        "repetition_stats": q_repetition_stats,
        "redact_pii": q_redact_pii,
        "pack_shards": q_pack_shards,
        "url_normalize": q_url_normalize,
        "boilerplate_lines": q_boilerplate_lines,
        "extract_links": q_extract_links,
        "main_content": q_main_content,
        # multimodal plumbing
        "media_metadata": q_media_metadata,
        "media_features": q_media_features,
        "resize_media": q_resize_media,
        "sample_frames": q_sample_frames,
        # streaming (batch form; stream==batch proven in tests)
        "sessionize_events": q_sessionize_events,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_WORD_RE_SQL = WORD_RE  # same pattern string; quote/backslash-free
_BPE_RE_SQL = BPE_RE  # identical escape text parses the same in Java + RE2


def _url_suspect_re_sql() -> str:
    # boundary-anchored suspect-token pattern, shared with the Spark side
    # (weburl.URL_SUSPECT_RE) so both engines flag the same URLs
    from textractssmlprocessor_spark.operators.weburl import URL_SUSPECT_RE

    return URL_SUSPECT_RE


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB expression, emitting non-ASCII
    (and quote) codepoints as chr(n) so the oracle seeds the EXACT same
    characters as the Spark literal regardless of source encoding."""
    parts: list[str] = []
    buf: list[str] = []
    for c in s:
        if 32 <= ord(c) < 127 and c != "'":
            buf.append(c)
        else:
            if buf:
                parts.append("'" + "".join(buf) + "'")
                buf = []
            parts.append(f"chr({ord(c)})")
    if buf:
        parts.append("'" + "".join(buf) + "'")
    return "(" + " || ".join(parts or ["''"]) + ")"


def _textnorm_sql_consts() -> tuple[str, str, str, str, str]:
    from textractssmlprocessor_spark.operators.textnorm import (
        MOJIBAKE_LEAD_CLASS,
        MOJIBAKE_RE,
        MOJIBAKE_SAMPLE,
        MOJIBAKE_SAMPLE_FIXED,
        NFD_SAMPLE,
    )

    return (
        _sql_str(NFD_SAMPLE),
        _sql_str(MOJIBAKE_SAMPLE),
        _sql_str(MOJIBAKE_RE),
        _sql_str(MOJIBAKE_SAMPLE_FIXED),
        _sql_str(MOJIBAKE_LEAD_CLASS),
    )


(
    _nfd_sql,
    _moji_sql,
    _moji_re_sql,
    _moji_fixed_sql,
    _moji_leads_sql,
) = _textnorm_sql_consts()


def _pagerank_sql(iterations: int = 3, damping: float = 0.85) -> str:
    """CTE chain replaying graph.pagerank's exact trajectory in DuckDB over
    an ``e(s, t)`` distinct-edge CTE: uniform r0 and, per iteration, the
    in-sum over out-degree-normalized contributions plus uniform dangling
    redistribution, each rank rounded to 6 (the lockstep convention).
    Yields CTE r{iterations} = (node, rank)."""
    d = damping
    parts = [
        "nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS (SELECT s, count(*)::DOUBLE AS deg FROM e GROUP BY 1)",
        "r0 AS (SELECT node, round(1.0 / nn.n, 6) AS rank FROM nodes, nn)",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"c{t} AS (SELECT e.t AS node, sum(r.rank / deg.deg) AS in_sum "
            f"FROM e JOIN r{t-1} r ON e.s = r.node JOIN deg ON deg.s = e.s "
            "GROUP BY 1)"
        )
        parts.append(
            f"d{t} AS (SELECT coalesce(sum(r.rank), 0.0) AS dang "
            f"FROM r{t-1} r LEFT JOIN deg ON deg.s = r.node WHERE deg.s IS NULL)"
        )
        parts.append(
            f"r{t} AS (SELECT nodes.node, "
            f"round({1.0 - d} / nn.n + {d} * (coalesce(c.in_sum, 0.0) + d.dang / nn.n), 6) AS rank "
            f"FROM nodes LEFT JOIN c{t} c ON nodes.node = c.node, nn, d{t} d)"
        )
    return ",\n            ".join(parts)


def _hits_sql(iterations: int = 3) -> str:
    """CTE chain replaying graph.hits' exact trajectory in DuckDB over an
    ``e(s, t)`` distinct-edge CTE (and a ``nodes`` CTE from _pagerank_sql's
    chain): hub0 = 1; per iteration auth = round(sum_in hub / total, 6)
    then hub = round(sum_out auth / total, 6) — the per-half-step rounding
    that keeps both engines in lockstep. Yields CTEs a{iterations} =
    (node, auth) and h{iterations} = (node, hub)."""
    parts = [
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"ar{t} AS (SELECT e.t AS node, sum(h.hub) AS raw "
            f"FROM e JOIN h{t-1} h ON e.s = h.node GROUP BY 1)"
        )
        parts.append(f"at{t} AS (SELECT sum(raw) AS tot FROM ar{t})")
        parts.append(
            f"a{t} AS (SELECT nodes.node, "
            f"round(coalesce(ar.raw, 0.0) / at.tot, 6) AS auth "
            f"FROM nodes LEFT JOIN ar{t} ar ON nodes.node = ar.node, at{t} at)"
        )
        parts.append(
            f"hr{t} AS (SELECT e.s AS node, sum(a.auth) AS raw "
            f"FROM e JOIN a{t} a ON e.t = a.node GROUP BY 1)"
        )
        parts.append(f"ht{t} AS (SELECT sum(raw) AS tot FROM hr{t})")
        parts.append(
            f"h{t} AS (SELECT nodes.node, "
            f"round(coalesce(hr.raw, 0.0) / ht.tot, 6) AS hub "
            f"FROM nodes LEFT JOIN hr{t} hr ON nodes.node = hr.node, ht{t} ht)"
        )
    return ",\n            ".join(parts)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine mirroring similarity.cosine's zero-norm guard: Spark
    emits 0.0 when either norm is 0 (CASE-guarded try-division), DuckDB's
    list_cosine_similarity emits -1.0 — silently re-ranking zero vectors
    to the bottom instead of the middle. NULLs propagate through the ELSE
    branch in both engines."""
    # the zero test MULTIPLIES the norms so a NULL side stays NULL: with
    # OR, "zero-vector OR NULL" short-circuits to 0.0 while Spark's
    # norm-product guard (0 * NULL = NULL) propagates the NULL
    return (
        f"(CASE WHEN list_dot_product({a}, {a}) * list_dot_product({b}, {b}) = 0 "
        f"THEN 0.0 ELSE list_cosine_similarity({a}, {b}) END)"
    )


def _kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64,
                src: str = "embeddings") -> str:
    """CTE chain replaying kmeans_centroids' exact trajectory in DuckDB:
    first-k seeds, per-iteration argmax-cosine assignment (sims rounded to
    6, ties to lowest cell) and element-wise mean update (components
    rounded to 6) — the per-iteration quantization is what keeps both
    engines' float sums in lockstep. Yields CTE c{iters} = (cell, cvec);
    ``src`` names the (vec_id, embedding) table/CTE to train on."""
    parts = [
        f"e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS v FROM {src})",
        # v IS NOT NULL mirrors default_centroids' NULL-embedding filter
        f"c0 AS (SELECT vec_id::INT AS cell, v AS cvec FROM e "
        f"WHERE v IS NOT NULL ORDER BY vec_id LIMIT {k})",
    ]
    for t in range(1, iters + 1):
        parts.append(
            # NULL-v rows never assign (Spark: NULL cell, dropped at the
            # mean's posexplode); zero-norm sims are 0.0 per _cos_sql
            f"s{t} AS (SELECT e.vec_id AS id, e.v, c.cell, "
            f"round({_cos_sql('e.v', 'c.cvec')}, 6) AS sim "
            f"FROM e CROSS JOIN c{t-1} c WHERE e.v IS NOT NULL)"
        )
        parts.append(
            f"a{t} AS (SELECT id, v, cell FROM (SELECT id, v, cell, "
            "row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn "
            f"FROM s{t}) WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS (SELECT cell, g.i, round(avg(v[g.i]), 6) AS m "
            f"FROM a{t}, unnest(generate_series(1, {dim})) AS g(i) "
            "GROUP BY cell, g.i)"
        )
        parts.append(
            f"c{t} AS (SELECT cell, list(m ORDER BY i) AS cvec FROM m{t} GROUP BY cell)"
        )
    return ",\n            ".join(parts)


def _redact_pii_sql() -> str:
    """PII oracle interpolated from the privacy module's constants at call
    time — the Spark operator and the DuckDB mirror can never drift."""
    from textractssmlprocessor_spark.operators.privacy import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    def esc(r: str) -> str:
        # SQL single-quoted strings pass backslashes through verbatim;
        # only quotes need doubling
        return r.replace("'", "''")

    return f"""
        WITH d AS (
            -- outer coalesce mirrors redact_pii's NULL-text totality (counts
            -- 0, redacted ''): the seed concat NULL-propagates identically in
            -- both engines, then the operator coalesces
            SELECT doc_id,
                   coalesce(CASE WHEN doc_id % 3 = 0
                        THEN text || ' Contact user' || doc_id::VARCHAR
                             || '@example.com or 555-123-4567 from 192.168.0.'
                             || (doc_id % 256)::VARCHAR || '.'
                        ELSE text END, '') AS text
            FROM documents
        ),
        s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{esc(EMAIL_RE)}'))::BIGINT AS n_email,
                   regexp_replace(text, '{esc(EMAIL_RE)}', '<EMAIL>', 'g') AS t1
            FROM d
        ),
        s2 AS (
            SELECT doc_id, n_email,
                   len(regexp_extract_all(t1, '{esc(PHONE_RE)}'))::BIGINT AS n_phone,
                   regexp_replace(t1, '{esc(PHONE_RE)}', '<PHONE>', 'g') AS t2
            FROM s1
        )
        SELECT doc_id, n_email, n_phone,
               len(regexp_extract_all(t2, '{esc(IPV4_RE)}'))::BIGINT AS n_ip,
               regexp_replace(t2, '{esc(IPV4_RE)}', '<IP>', 'g') AS redacted_text
        FROM s2
    """


def _golden(query: str) -> str:
    """Fixture-golden oracle: a DuckDB read of the expected-output parquet
    precomputed by tools/make_goldens.py (pure single-process Python over the
    reference-parity functions — see tools/golden_oracle.py). The driver runs
    at sf0.01 (the default); tools/check_correctness.py overrides
    SPARK_GRAFT_GOLDEN_SF to match its sf_dir."""
    import os

    sf = os.environ.get("SPARK_GRAFT_GOLDEN_SF", "sf0.01")
    here = os.path.dirname(os.path.abspath(__file__))
    return f"SELECT * FROM read_parquet('{here}/goldens/{sf}/{query}.parquet')"


def oracle_sql() -> dict[str, str]:
    from textractssmlprocessor_spark.operators.ocr import (
        FOLIO_RE as _OCR_FOLIO_RE,
    )
    from textractssmlprocessor_spark.operators.content import (
        ANCHOR_TEXT_RE as _MC_ANCHOR_RE,
        BLOCK_SPLIT_RE as _MC_BLOCK_RE,
        PG_DESC_CONTENT_FIRST_RE,
        PG_DESC_NAME_FIRST_RE,
        PG_LANG_RE,
        PG_OG_TITLE_RE,
        HEADING_LEVEL_RE,
        HEADING_RE,
        PG_PUBLISHED_RE,
        PG_ROBOTS_CONTENT_FIRST_RE,
        PG_ROBOTS_NAME_FIRST_RE,
        PG_TIME_TAG_RE,
        PG_TITLE_RE,
        SCRIPT_STYLE_RE as _MC_SCRIPT_RE,
        TABLE_CELL_RE,
        TABLE_RE,
        TABLE_TR_RE,
        TAG_RE as _MC_TAG_RE,
    )
    from textractssmlprocessor_spark.operators.textstats import (
        BULLET_CHAR as _bullet,
        ELLIPSIS_CHAR as _ell,
        STOPWORDS,
    )

    lang_keys = ", ".join(
        "lpad(greatest(0, 100000 - len(regexp_extract_all(lower(text), '\\b(?:%s)\\b')))::VARCHAR, 6, '0') || '%s'"
        % ("|".join(STOPWORDS[lang]), lang)
        for lang in sorted(STOPWORDS)
    )

    shingles = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(string_split_regex(trim(lower(translate(text, (chr(304) || chr(931)), ('i' || chr(963))))), '[ \\t\\n\\x0b\\f\\r]+')) - 2, 1)), "
        "i -> array_to_string(string_split_regex(trim(lower(translate(text, (chr(304) || chr(931)), ('i' || chr(963))))), '[ \\t\\n\\x0b\\f\\r]+')[i:i+2], ' ')))"
    )

    minhash = ", ".join(
        f"list_min(list_transform(sh, h -> md5('{k}|' || h)))" for k in range(16)
    )
    bands = ", ".join(
        "md5('%d' || '|' || mh[%d] || '|' || mh[%d] || '|' || mh[%d] || '|' || mh[%d])"
        % (b, b * 4 + 1, b * 4 + 2, b * 4 + 3, b * 4 + 4)
        for b in range(4)
    )

    # shared by dedup_minhash_lsh and dedup_clusters (CC over the same pairs)
    jac = "len(list_intersect(sa.sh, sb.sh)) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::DOUBLE"
    minhash_pairs_ctes = f"""
            d AS ({_DOCS_WITH_DUPES_SQL}),
            -- blank/NULL docs are excluded from the whole near-dup
            -- family (dedup._shingleable's quadratic-clique guard)
            sh AS (SELECT doc_id AS id,
                          list_distinct(list_transform({shingles}, s -> substr(md5(s), 1, 8))) AS sh
                   FROM d WHERE regexp_matches(text, '\\S')),
            sig AS (SELECT id, sh, [{minhash}] AS mh FROM sh),
            banded AS (SELECT id, unnest([{bands}]) AS bucket FROM sig),
            cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
            ),
            mhpairs AS (
                SELECT id_a, id_b, round({jac}, 6) AS jaccard
                FROM cand
                JOIN sh sa ON sa.id = id_a
                JOIN sh sb ON sb.id = id_b
                WHERE {jac} >= 0.5
            )"""

    # unicode-script replay (textstats.script_columns): patterns and seed
    # samples come from the SAME module constants as the Spark side, the
    # non-ASCII rendered with _sql_str per the CLAUDE.md convention
    from textractssmlprocessor_spark.operators.textstats import (
        SCRIPT_RANGES,
        SCRIPT_SAMPLES,
        script_class,
    )

    script_pat = {
        s: _sql_str("[^" + script_class(s) + "]") for s in sorted(SCRIPT_RANGES)
    }
    script_seed_sql = (
        "(CASE WHEN doc_id % 4 = 1 THEN " + _sql_str(SCRIPT_SAMPLES["cyrillic"] + " ")
        + " WHEN doc_id % 4 = 2 THEN " + _sql_str(SCRIPT_SAMPLES["cjk"] + " ")
        + " WHEN doc_id % 4 = 3 THEN " + _sql_str(SCRIPT_SAMPLES["arabic"] + " ")
        + " ELSE '' END) || substr(text, 1, 12)"
    )
    script_frac_sql = ",\n                   ".join(
        f"round(length(regexp_replace(st, {script_pat[s]}, '', 'g')) / length(st)::DOUBLE, 6) AS {s}_frac"
        for s in sorted(SCRIPT_RANGES)
    )
    script_keys_sql = ", ".join(
        f"lpad(greatest(0, 10000000 - length(regexp_replace(st, {script_pat[s]}, '', 'g')))::VARCHAR, 8, '0') || '{s}'"
        for s in sorted(SCRIPT_RANGES)
    )

    from textractssmlprocessor_spark.operators.textnorm import (
        INVISIBLE_CLASS,
        INVISIBLE_SAMPLE,
    )

    inv_pat_sql = _sql_str("[" + INVISIBLE_CLASS + "]")
    inv_sample_sql = _sql_str(INVISIBLE_SAMPLE)

    simhash_bits = " + ".join(
        "(CASE WHEN list_sum(list_transform(ws, w -> CASE WHEN upper(substr(md5(w), %d, 1)) IN ('8','9','A','B','C','D','E','F') THEN 1 ELSE -1 END)) > 0 THEN %d ELSE 0 END)"
        % (i, 2 ** (16 - i))
        for i in range(1, 17)
    )

    fmt_ms = (
        lambda col: "printf('%02d:%02d:%02d,%03d', "
        f"floor(({col}/1000.0)/3600)::BIGINT, floor((({col}/1000.0)%3600)/60)::BIGINT, "
        f"floor(({col}/1000.0)%60)::BIGINT, floor((({col}/1000.0)%1)*1000)::BIGINT)"
    )

    # Z-order spread chain (operators/layout.py SPREAD2_STEPS shared with
    # the Spark column): one CTE per shift/mask stage for both dims
    from textractssmlprocessor_spark.operators.layout import (
        DIM_MASK,
        SPREAD2_STEPS,
    )

    _zsrc = "(('0x' || substr(md5('z' || source), 1, 8))::BIGINT % 1024)"
    zctes = [
        f"z0 AS (SELECT doc_id, (doc_id % 1024)::BIGINT AS oa, {_zsrc} AS ob, "
        f"((doc_id % 1024)::BIGINT & {DIM_MASK}) AS xa, ({_zsrc} & {DIM_MASK}) AS xb "
        "FROM documents)"
    ]
    for zi, (zsh, zmask) in enumerate(SPREAD2_STEPS, 1):
        zctes.append(
            f"z{zi} AS (SELECT doc_id, oa, ob, "
            f"((xa | (xa << {zsh})) & {zmask}) AS xa, "
            f"((xb | (xb << {zsh})) & {zmask}) AS xb FROM z{zi - 1})"
        )
    zctes.append(
        f"zf AS (SELECT doc_id, oa, ob, (xa | (xb << 1)) AS zkey "
        f"FROM z{len(SPREAD2_STEPS)})"
    )
    zorder_ctes = ",\n            ".join(zctes)

    return {
        "doc_stats": f"""
            WITH du AS (
                SELECT *,
                       'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'ads.' ELSE 'www.' END)
                       || 'site-' || source || '.example.org'
                       || (CASE WHEN doc_id % 3 = 0 THEN '/p/1234/567/' || doc_id::VARCHAR
                                WHEN doc_id % 5 = 0 THEN '/a/b/c/d?x=1&y=2&utm_source=feed#frag'
                                ELSE '/page/' || doc_id::VARCHAR END) AS u
                FROM documents
            ),
            dq AS (
                SELECT *,
                       substr(u, length(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)', 1)) + 1) AS rest
                FROM du
            )
            SELECT doc_id,
                   length(text)::BIGINT AS character_count,
                   round(length(text)/1000000.0*20, 6) AS gpt_cost,
                   round(length(text)/1000000.0*30, 6) AS polly_cost_generative,
                   round(length(text)/1000000.0*100, 6) AS polly_cost_long_form,
                   len(regexp_extract_all(text, '{_WORD_RE_SQL}'))::BIGINT AS n_words,
                   len(regexp_extract_all(text, '{_BPE_RE_SQL}'))::BIGINT AS n_tokens,
                   -- NULL text -> NULL (Spark concat NULL-propagates);
                   -- wordless text -> '' (DuckDB's empty-list slice is
                   -- NULL — the CLAUDE.md slice gotcha — so coalesce)
                   CASE WHEN text IS NULL THEN NULL ELSE
                   coalesce(array_to_string(regexp_extract_all(text, '{_WORD_RE_SQL}')[1:5], ' ')
                   || (CASE WHEN len(regexp_extract_all(text, '{_WORD_RE_SQL}')) > 5 THEN '...' ELSE '' END), '')
                   END AS preview,
                   CASE WHEN (('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000) < 9000 THEN 'train'
                        WHEN (('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000) < 9500 THEN 'val'
                        ELSE 'test' END AS split,
                   (('0x' || substr(md5('mix-v1' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000)
                   < (CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000
                                  WHEN 'src2' THEN 7500 ELSE 10000 END) AS mix_keep,
                   length(u)::BIGINT AS url_len,
                   len(list_filter(string_split(string_split(string_split(rest, '#')[1], '?')[1], '/'), p -> p != ''))::BIGINT AS path_depth,
                   round(length(regexp_replace(u, '[^0-9]', '', 'g')) / length(u)::DOUBLE, 6) AS url_digit_ratio,
                   (CASE WHEN strpos(string_split(rest, '#')[1], '?') > 0
                         THEN len(list_filter(string_split(substr(string_split(rest, '#')[1],
                              strpos(string_split(rest, '#')[1], '?') + 1), '&'), p -> p != ''))
                         ELSE 0 END)::BIGINT AS query_param_count,
                   nullif(lower(regexp_extract(lower(u), '{_url_suspect_re_sql()}', 1)), '') AS url_suspect
            FROM dq
        """,
        "text_profile": f"""
            WITH sdocs AS (
                SELECT doc_id, text, {script_seed_sql} AS st,
                       regexp_replace(substr(text, 1, 64), '[^ -~]|[<>]', '', 'g') AS at
                FROM documents
            ),
            -- trained NB lang-ID replay (operators/langid.py): char
            -- trigrams -> md5 cells mod 2048 -> per-(lang,cell)
            -- Laplace(1) log-likelihoods (trained on the %2 slice) ->
            -- per-doc score = hits + unseen*default + prior -> argmax
            -- with (score desc, lang) tie-break
            lnorm AS (
                SELECT doc_id, lang,
                       regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS s
                FROM documents
            ),
            lcells AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(g), 1, 8))::BIGINT % 2048 AS cell
                FROM (
                    SELECT doc_id, lang,
                           unnest(list_transform(
                               generate_series(1, greatest(length(s) - 2, 0)::BIGINT),
                               i -> substr(s, i, 3))) AS g
                    FROM lnorm
                )
            ),
            lcounts AS (
                -- lang IS NOT NULL mirrors train_langid_nb's unlabeled-row
                -- drop (a NULL label must not mint a class)
                SELECT lang, cell, count(*)::BIGINT AS c
                FROM lcells WHERE doc_id % 2 = 0 AND lang IS NOT NULL
                GROUP BY 1, 2
            ),
            ltot AS (SELECT lang, sum(c)::DOUBLE AS n_lang FROM lcounts GROUP BY 1),
            lw AS (
                SELECT lang, cell, round(ln((c + 1.0) / (n_lang + 2048.0)), 6) AS weight
                FROM lcounts JOIN ltot USING (lang)
            ),
            ldocs AS (
                SELECT lang, count(*)::DOUBLE AS n_docs
                FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
                GROUP BY 1
            ),
            lstats AS (
                SELECT d.lang,
                       round(ln(1.0 / (coalesce(t.n_lang, 0) + 2048.0)), 6) AS default_w,
                       round(ln(d.n_docs / (SELECT sum(n_docs) FROM ldocs)), 6) AS log_prior
                FROM ldocs d LEFT JOIN ltot t ON d.lang = t.lang
            ),
            lng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM lcells GROUP BY 1),
            lhits AS (
                SELECT c.doc_id, w.lang, sum(w.weight) AS sum_w,
                       count(*)::BIGINT AS n_hit
                FROM lcells c JOIN lw w USING (cell) GROUP BY 1, 2
            ),
            lsc AS (
                SELECT d.doc_id, s.lang,
                       coalesce(g.n_grams, 0)::BIGINT AS n_grams,
                       round(coalesce(h.sum_w, 0.0)
                             + (coalesce(g.n_grams, 0) - coalesce(h.n_hit, 0))::DOUBLE * s.default_w
                             + s.log_prior, 6) AS score
                FROM documents d
                LEFT JOIN lng g ON d.doc_id = g.doc_id
                CROSS JOIN lstats s
                LEFT JOIN lhits h ON d.doc_id = h.doc_id AND s.lang = h.lang
            ),
            lrk AS (
                SELECT doc_id, lang, score, n_grams,
                       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
                FROM lsc
            ),
            lpred AS (
                SELECT doc_id,
                       max(CASE WHEN rn = 1 THEN lang END) AS lang_model_pred,
                       max(CASE WHEN rn = 1 THEN score END) AS lang_model_score,
                       round(max(CASE WHEN rn = 1 THEN score END)
                             - max(CASE WHEN rn = 2 THEN score END), 6) AS lang_model_margin,
                       max(n_grams) AS langid_n_grams
                FROM lrk WHERE rn <= 2 GROUP BY 1
            )
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)::DOUBLE, 6) AS alpha_ratio,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)::DOUBLE, 6) AS punct_ratio,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / len(regexp_extract_all(text, '{_WORD_RE_SQL}'))::DOUBLE, 6) AS mean_word_len,
                   len(regexp_extract_all(text, '{_WORD_RE_SQL}'))::BIGINT AS n_words,
                   substr(list_min([{lang_keys}]), 7, 2) AS lang_pred,
                   md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fingerprint,
                   nfc_normalize({_nfd_sql} || regexp_replace(substr(text, 1, 16), '\\x00', '', 'g')) AS nfc_text,
                   (CASE WHEN doc_id % 3 = 0
                         THEN len(regexp_extract_all({_moji_sql}, {_moji_re_sql}))
                         ELSE len(regexp_extract_all(
                             regexp_replace(substr(text, 1, 8), {_moji_leads_sql}, '', 'g'),
                             {_moji_re_sql}))
                    END)::BIGINT AS moji_hits,
                   CASE WHEN doc_id % 3 = 0 THEN {_moji_fixed_sql}
                        ELSE regexp_replace(substr(text, 1, 8), {_moji_leads_sql}, '', 'g')
                   END AS moji_fixed,
                   {script_frac_sql},
                   CASE WHEN length(st) > 0
                        THEN substr(least({script_keys_sql}), 9, 16) END AS script_pred,
                   regexp_replace(
                       (CASE WHEN doc_id % 2 = 0 THEN {inv_sample_sql} ELSE '' END) || substr(text, 1, 6),
                       {inv_pat_sql}, '', 'g') AS inv_clean,
                   lang_model_pred, lang_model_score, lang_model_margin,
                   coalesce(langid_n_grams, 0)::BIGINT AS langid_n_grams,
                   -- charset branch: expected sniff outcome of the Spark
                   -- side's constructed payloads (chr(233) = 'é', the
                   -- cp1252 meaning of the injected 0xE9 byte)
                   -- NULL text -> NULL payload on the Spark side (concat
                   -- NULL-propagates), so the sniff outcome is NULL too
                   CASE WHEN text IS NULL THEN NULL
                        ELSE CASE doc_id % 6 WHEN 1 THEN 'cp1252' WHEN 2 THEN 'cp1252'
                             WHEN 4 THEN 'utf-16-le' ELSE 'utf-8' END END AS charset,
                   CASE doc_id % 6
                        WHEN 1 THEN at || chr(233) || '  '
                        WHEN 2 THEN '<meta charset="windows-1252">' || at || chr(233)
                        WHEN 5 THEN '<meta charset="utf-16le">' || at
                        ELSE at END AS charset_text
            FROM sdocs JOIN lpred USING (doc_id)
        """,

        "pack_shards": f"""
            WITH t AS (
                SELECT doc_id, len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?'))::BIGINT AS n_tokens
                FROM documents
            ),
            {zorder_ctes},
            r AS (
                SELECT doc_id, n_tokens,
                       (sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) AS s
                FROM t
            )
            SELECT 'shards' AS variant, doc_id, n_tokens,
                   (s // 2000)::BIGINT AS shard_id,
                   NULL::BIGINT AS seq_id, NULL::BIGINT AS frag_start,
                   NULL::BIGINT AS frag_len, NULL::BIGINT AS seq_offset
            FROM r
            UNION ALL
            SELECT 'seqs', doc_id, NULL::BIGINT, NULL::BIGINT,
                   seq_id,
                   (greatest(seq_id * 512, s) - s)::BIGINT,
                   (least((seq_id + 1) * 512, s + n_tokens) - greatest(seq_id * 512, s))::BIGINT,
                   (greatest(seq_id * 512, s) - seq_id * 512)::BIGINT
            FROM (
                SELECT doc_id, n_tokens, s,
                       unnest(generate_series((s // 512)::BIGINT, ((s + n_tokens - 1) // 512)::BIGINT)) AS seq_id
                FROM r WHERE n_tokens > 0
            )
            UNION ALL
            -- manifest variant (shards.shard_manifest): per-shard totals;
            -- first/last ids ride the seq_id-adjacent slots
            SELECT 'manifest', NULL::BIGINT, sum(n_tokens)::BIGINT,
                   (s // 2000)::BIGINT AS shard_id,
                   count(*)::BIGINT, min(doc_id)::BIGINT, max(doc_id)::BIGINT,
                   NULL::BIGINT
            FROM r GROUP BY (s // 2000)
            UNION ALL
            -- epoch variant (sampling.epoch_shuffle): reproducible global
            -- training order — rank by md5('v1|' || epoch || '|' || id)
            SELECT 'epoch', doc_id, NULL::BIGINT, NULL::BIGINT,
                   e::BIGINT,
                   NULL::BIGINT, NULL::BIGINT,
                   row_number() OVER (
                       PARTITION BY e
                       ORDER BY md5('v1|' || e::VARCHAR || '|' || doc_id::VARCHAR),
                                doc_id
                   )::BIGINT
            FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS e) ep
            UNION ALL
            -- zorder variant (operators/layout.py): Morton key over the
            -- doc_id and md5-source 10-bit dims; 32 equal key ranges as
            -- the file assignment
            SELECT 'zorder', doc_id, NULL::BIGINT,
                   (zkey >> 15)::BIGINT,
                   NULL::BIGINT, oa, ob, zkey::BIGINT
            FROM zf
        """,
        "corpus_report": """
            WITH tk AS (
                SELECT list_filter(string_split_regex(lower(translate(coalesce(text, ''), (chr(304) || chr(931)), ('i' || chr(963)))), '[^a-z0-9]+'), t -> t != '') AS toks
                FROM documents
            ),
            t1 AS (
                SELECT gram AS top_term, count(*)::BIGINT AS top_term_count
                FROM (SELECT unnest(toks) AS gram FROM tk)
                GROUP BY gram ORDER BY count(*) DESC, gram LIMIT 1
            ),
            t2 AS (
                SELECT gram AS top_bigram, count(*)::BIGINT AS top_bigram_count
                FROM (
                    SELECT unnest(list_transform(
                        generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1])) AS gram
                    FROM tk WHERE len(toks) >= 2
                )
                GROUP BY gram ORDER BY count(*) DESC, gram LIMIT 1
            ),
            -- Count-Min sketch replay (operators/sketch.py): md5-prefix
            -- buckets 'cms<row>:<token>' % 1024, depth 4; estimate = min
            -- over rows, 0 when no cell
            cms AS (
                SELECT r, b, count(*)::BIGINT AS c
                FROM (
                    SELECT i AS r,
                           ('0x' || substr(md5('cms' || i::VARCHAR || ':' || tok), 1, 8))::BIGINT % 1024 AS b
                    FROM (SELECT unnest(toks) AS tok FROM tk)
                    CROSS JOIN generate_series(0, 3) t(i)
                )
                GROUP BY 1, 2
            ),
            est_top AS (
                SELECT min(coalesce(c, 0))::BIGINT AS cms_top_term_est
                FROM (
                    SELECT i,
                           ('0x' || substr(md5('cms' || i::VARCHAR || ':' || top_term), 1, 8))::BIGINT % 1024 AS b
                    FROM t1 CROSS JOIN generate_series(0, 3) t(i)
                ) p LEFT JOIN cms ON cms.r = p.i AND cms.b = p.b
            ),
            est_the AS (
                SELECT min(coalesce(c, 0))::BIGINT AS cms_the_est
                FROM (
                    SELECT i,
                           ('0x' || substr(md5('cms' || i::VARCHAR || ':the'), 1, 8))::BIGINT % 1024 AS b
                    FROM generate_series(0, 3) t(i)
                ) p LEFT JOIN cms ON cms.r = p.i AND cms.b = p.b
            )
            SELECT count(*)::BIGINT AS n_docs,
                   sum(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?')))::BIGINT AS n_tokens,
                   min(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?')))::BIGINT AS min_tokens,
                   max(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?')))::BIGINT AS max_tokens,
                   count(DISTINCT lang)::BIGINT AS n_langs,
                   sum(length(text))::BIGINT AS total_character_count,
                   round(sum(length(text))/1000000.0*20, 6) AS total_gpt_cost,
                   round(sum(length(text))/1000000.0*30, 6) AS total_polly_cost_generative,
                   round(sum(length(text))/1000000.0*100, 6) AS total_polly_cost_long_form,
                   top_term, top_term_count, top_bigram, top_bigram_count,
                   cms_top_term_est, cms_the_est
            FROM documents CROSS JOIN t1 CROSS JOIN t2
            CROSS JOIN est_top CROSS JOIN est_the
            GROUP BY top_term, top_term_count, top_bigram, top_bigram_count,
                     cms_top_term_est, cms_the_est
        """,
        "redact_pii": _redact_pii_sql(),
        "contamination": """
            WITH ws AS (
                SELECT doc_id, string_split_regex(trim(lower(translate(text, (chr(304) || chr(931)), ('i' || chr(963))))), '[ \\t\\n\\x0b\\f\\r]+') AS w
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(w) - 4, 1)),
                           i -> substr(md5(array_to_string(w[i:i+4], ' ')), 1, 8))) AS sh
                FROM ws
            ),
            probe AS (
                SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 23 = 0
            ),
            ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
            -- exact-substring branch (Lee et al.): case-preserving tokens,
            -- full 8-grams, corpus-duplicated hashes, first-occurrence
            -- exempt, gaps-and-islands span merge
            es_ws AS (
                SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS ws
                FROM documents WHERE text IS NOT NULL
            ),
            es_grams AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, greatest(len(ws) - 7, 0)),
                           i -> {'pos': i - 1,
                                 'h': md5(array_to_string(ws[i:i+7], ' '))}
                       ) AS grams
                FROM es_ws
            ),
            es_occ AS (SELECT doc_id, unnest(grams, recursive := true) FROM es_grams),
            es_ranked AS (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY h) AS c,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
                FROM es_occ
            ),
            es_dup AS (SELECT doc_id, pos FROM es_ranked WHERE c > 1 AND rn > 1),
            es_isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                            THEN 0 ELSE 1 END AS brk
                FROM es_dup
            ),
            es_grp AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM es_isl
            ),
            es_spans AS (
                SELECT doc_id, min(pos)::BIGINT AS span_start,
                       (max(pos) + 8)::BIGINT AS span_end
                FROM es_grp GROUP BY doc_id, g
            )
            SELECT 'contamination' AS variant, ex.doc_id,
                   count(*)::BIGINT AS n,
                   NULL::BIGINT AS span_start, NULL::BIGINT AS span_end
            FROM ex JOIN probe USING (shingle)
            GROUP BY ex.doc_id
            HAVING count(*) >= 3
            UNION ALL
            SELECT 'dup_span', doc_id, (span_end - span_start)::BIGINT,
                   span_start, span_end
            FROM es_spans
        """,
        "curate_corpus": f"""
            WITH d0 AS (
                SELECT doc_id,
                       text || ' ' || text || ' ' || text || ' ' || text || ' ' || text
                       || ' The cat and the dog of the house is that with us in there.'
                       || (CASE WHEN doc_id % 13 = 0 THEN ' ' || repeat('# ', 40) ELSE '' END)
                       AS text,
                       lang
                FROM documents
            ),
            d AS (
                SELECT doc_id, text, lang FROM d0
                UNION ALL
                SELECT doc_id + 1000000, '  ' || translate(text, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  ', lang
                FROM d0 WHERE doc_id % 7 = 0
            ),
            base AS (
                SELECT doc_id, lang,
                       len(regexp_extract_all(text, '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?'))::BIGINT AS n_words,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       len(regexp_extract_all(text, '#|\\.\\.\\.|{_ell}')) AS syms,
                       string_split(text, chr(10)) AS lines,
                       string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS ws,
                       ((CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bin\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bis\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END)) AS stops,
                       md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
                FROM d
            ),
            flags AS (
                SELECT doc_id, fp,
                       coalesce(lang IN ('en', 'la'), false) AS lang_ok,
                       coalesce(n_words >= 50 AND n_words <= 100000
                        AND round(alpha / (CASE WHEN n_words > 0 THEN n_words END)::DOUBLE, 6) BETWEEN 3 AND 10
                        AND round(syms / (CASE WHEN n_words > 0 THEN n_words END)::DOUBLE, 6) <= 0.1
                        AND round(len(list_filter(lines, l -> substr(trim(l), 1, 1) IN ('{_bullet}', '-', '*')))
                                  / (CASE WHEN len(lines) > 0 THEN len(lines) END)::DOUBLE, 6) <= 0.9
                        AND round(len(list_filter(lines, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%{_ell}'))
                                  / (CASE WHEN len(lines) > 0 THEN len(lines) END)::DOUBLE, 6) <= 0.3
                        AND round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                                  / (CASE WHEN len(ws) > 0 THEN len(ws) END)::DOUBLE, 6) >= 0.8
                        AND stops >= 2, false) AS q_ok
                FROM base
            ),
            sur AS (
                SELECT *, min(CASE WHEN lang_ok AND q_ok THEN doc_id END)
                              OVER (PARTITION BY fp) AS min_sur
                FROM flags
            )
            SELECT doc_id,
                   (lang_ok AND q_ok AND doc_id = min_sur) AS kept,
                   CASE WHEN NOT lang_ok THEN 'language'
                        WHEN NOT q_ok THEN 'quality'
                        WHEN doc_id != min_sur THEN 'duplicate' END AS drop_reason
            FROM sur
        """,
        "url_normalize": """
            WITH d AS (
                SELECT 'normalize' AS variant, doc_id,
                       'HTTPS://Host-' || source || '.Example.org'
                       || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                       || '/Path/' || doc_id::VARCHAR
                       || (CASE WHEN doc_id % 2 = 0
                                THEN '?utm_source=feed&b=2&a=1&fbclid=xyz'
                                ELSE '?z=9&utm_campaign=x' END)
                       || (CASE WHEN doc_id % 5 = 0 THEN '#section-3' ELSE '' END)
                       AS url
                FROM documents
                UNION ALL
                SELECT 'url_dedup', doc_id,
                       'HTTPS://Host-' || source || '.Example.org'
                       || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                       || '/Path/' || (doc_id % 37)::VARCHAR
                       || '?b=2&a=1&utm_source=src' || doc_id::VARCHAR
                       || (CASE WHEN doc_id % 5 = 0 THEN '#s' ELSE '' END)
                FROM documents
            ),
            pieces AS (
                SELECT variant, doc_id,
                       regexp_replace(url, '#.*', '') AS nf
                FROM d
            ),
            split_q AS (
                SELECT variant, doc_id, nf,
                       CASE WHEN strpos(nf, '?') > 0 THEN substr(nf, 1, strpos(nf, '?') - 1) ELSE nf END AS base,
                       CASE WHEN strpos(nf, '?') > 0 THEN substr(nf, strpos(nf, '?') + 1) ELSE '' END AS q
                FROM pieces
            ),
            sh AS (
                SELECT variant, doc_id, base, q,
                       lower(regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)', 1)) AS scheme_host,
                       substr(base, length(regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)', 1)) + 1) AS rest
                FROM split_q
            ),
            norm AS (
                SELECT variant, doc_id, rest, q,
                       CASE WHEN scheme_host LIKE 'http://%' THEN regexp_replace(scheme_host, ':80$', '')
                            WHEN scheme_host LIKE 'https://%' THEN regexp_replace(scheme_host, ':443$', '')
                            ELSE scheme_host END AS scheme_host
                FROM sh
            ),
            params AS (
                SELECT variant, doc_id, scheme_host, rest,
                       list_sort(list_filter(string_split(q, '&'),
                           p -> p != '' AND NOT regexp_matches(p, '(?i)^(utm_[^=&]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid)(=|$)'))) AS ps
                FROM norm
            ),
            outp AS (
                SELECT variant, doc_id,
                       scheme_host || rest ||
                       (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS canonical_url,
                       -- url_host mirror: userinfo strips before the port
                       -- split; bracketed IPv6 hosts keep their brackets
                       CASE WHEN hp00 LIKE '[%'
                            THEN regexp_extract(hp00, '^(\\[[^\\]]*\\])', 1)
                            ELSE substr(hp00, 1,
                                 CASE WHEN strpos(hp00, ':') > 0
                                      THEN strpos(hp00, ':') - 1
                                      ELSE length(hp00) END) END AS host
                FROM (
                    SELECT *,
                           regexp_replace(regexp_replace(scheme_host,
                               '^[a-z][a-z0-9+.\\-]*://', ''), '^[^@]*@', '') AS hp00
                    FROM params
                ) params_h
            )
            , bdocs AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 4 = 0 THEN 'deep.sub.' ELSE '' END)
                       || 'host-' || source || '.example.org' AS host
                FROM documents
            ),
            bhits AS (
                SELECT doc_id, host, e,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY length(e) DESC, e DESC) AS rn
                FROM bdocs,
                     (VALUES ('host-src3.example.org'), ('host-src7.example.org'),
                             ('sub.host-src1.example.org')) AS b(e)
                WHERE host = e OR host LIKE '%.' || e
            )
            SELECT variant, doc_id, canonical_url, host, NULL::BIGINT AS n,
                   NULL::BIGINT AS n2, NULL::VARCHAR AS matched
            FROM outp WHERE variant = 'normalize'
            UNION ALL
            -- SURT replay (weburl.surt_key): reversed comma-joined host,
            -- non-default port kept, scheme dropped, path+query lowered
            SELECT 'surt', doc_id,
                   CASE WHEN scheme_host = '' THEN lower(scheme_host || rest || qq)
                        ELSE array_to_string(list_reverse(string_split(
                                 CASE WHEN strpos(hp, ':') > 0
                                      THEN substr(hp, 1, strpos(hp, ':') - 1)
                                      ELSE hp END, '.')), ',')
                             || (CASE WHEN strpos(hp, ':') > 0
                                      THEN substr(hp, strpos(hp, ':')) ELSE '' END)
                             || ')'
                             || lower(CASE WHEN rest || qq = '' THEN '/' ELSE rest || qq END)
                   END,
                   NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM (
                SELECT doc_id, scheme_host, rest,
                       (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END) AS qq,
                       regexp_replace(scheme_host, '^[a-z][a-z0-9+.\\-]*://', '') AS hp
                FROM params WHERE variant = 'normalize'
            )
            UNION ALL
            SELECT variant, min(doc_id), canonical_url, NULL::VARCHAR, count(*)::BIGINT,
                   NULL::BIGINT, NULL::VARCHAR
            FROM outp WHERE variant = 'url_dedup'
            GROUP BY variant, canonical_url
            UNION ALL
            SELECT 'domain_stats', NULL::BIGINT, NULL::VARCHAR, host, count(*)::BIGINT,
                   count(DISTINCT canonical_url)::BIGINT, NULL::VARCHAR
            FROM outp WHERE variant = 'url_dedup'
            GROUP BY host
            UNION ALL
            SELECT 'blocklist', d.doc_id, NULL::VARCHAR, d.host,
                   (h.e IS NOT NULL)::BIGINT, NULL::BIGINT, h.e
            FROM bdocs d
            LEFT JOIN (SELECT doc_id, e FROM bhits WHERE rn = 1) h USING (doc_id)
            UNION ALL
            SELECT 'host_cap', doc_id, NULL::VARCHAR, host,
                   CASE WHEN cnt > 10 THEN rn END::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM (
                SELECT doc_id, host,
                       row_number() OVER (PARTITION BY host
                           ORDER BY md5('hostcap-v1' || doc_id::VARCHAR)) AS rn,
                       count(*) OVER (PARTITION BY host) AS cnt
                FROM bdocs
            ) WHERE cnt <= 10 OR rn <= 10
            UNION ALL
            SELECT 'robots', doc_id, path, host, allowed, NULL::BIGINT, matched_path
            FROM (
                WITH ru AS (
                    SELECT doc_id,
                           'host-' || source || '.example.org' AS host,
                           try_cast(regexp_extract(source, '([0-9]+)', 1) AS INT) AS sn,
                           CASE WHEN doc_id % 9 = 0 THEN '/admin/public/y' || doc_id::VARCHAR
                                WHEN doc_id % 3 = 0 THEN '/admin/x' || doc_id::VARCHAR
                                ELSE '/page/' || doc_id::VARCHAR END AS path
                    FROM documents
                ),
                rules AS (
                    SELECT DISTINCT host, 'disallow' AS rule, '/admin/' AS prefix, sn FROM ru
                    UNION ALL
                    SELECT DISTINCT host, 'allow', '/admin/public/', sn FROM ru
                    UNION ALL
                    SELECT DISTINCT host, 'disallow', '/page/', sn FROM ru WHERE sn % 2 = 1
                ),
                hits AS (
                    SELECT ru.doc_id, rules.rule, rules.prefix,
                           row_number() OVER (
                               PARTITION BY ru.doc_id
                               ORDER BY length(rules.prefix) DESC,
                                        (rules.rule = 'allow') DESC,
                                        rules.prefix DESC
                           ) AS rn
                    FROM ru JOIN rules ON ru.host = rules.host
                    WHERE starts_with(ru.path, rules.prefix)
                )
                SELECT ru.doc_id, ru.path, ru.host,
                       coalesce(h.rule = 'allow', TRUE)::BIGINT AS allowed,
                       h.prefix AS matched_path
                FROM ru
                LEFT JOIN (SELECT doc_id, rule, prefix FROM hits WHERE rn = 1) h
                USING (doc_id)
            )
            UNION ALL
            SELECT 'crawl_delta', NULL::BIGINT, url, NULL::VARCHAR,
                   NULL::BIGINT, NULL::BIGINT, status
            FROM (
                WITH pg AS (
                    SELECT doc_id, source,
                           'https://host-' || source || '.example.org/p/' || doc_id::VARCHAR AS url,
                           md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp,
                           md5(regexp_replace(lower(translate(trim(text || ' updated'), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp_upd
                    FROM documents
                ),
                -- presence rides its own flag: a NULL-text page's NULL
                -- fingerprint must not read as row-absence ('added'), and
                -- NULL-vs-NULL digests compare null-safely ('unchanged')
                -- — mirroring delta.crawl_delta's presence columns
                o AS (SELECT url, fp AS old_fp, 1 AS o_present FROM pg),
                n AS (
                    SELECT url, CASE WHEN doc_id % 7 = 0 THEN fp_upd ELSE fp END AS new_fp,
                           1 AS n_present
                    FROM pg WHERE doc_id % 10 != 0
                    UNION ALL
                    SELECT 'https://host-' || source || '.example.org/p/new' || doc_id::VARCHAR, fp, 1
                    FROM pg WHERE doc_id % 13 = 0
                )
                SELECT coalesce(o.url, n.url) AS url,
                       CASE WHEN o.o_present IS NULL THEN 'added'
                            WHEN n.n_present IS NULL THEN 'removed'
                            WHEN o.old_fp IS NOT DISTINCT FROM n.new_fp THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM o FULL OUTER JOIN n ON o.url = n.url
            )
            UNION ALL
            -- canonical variant: pages declaring <link rel=canonical> (%2)
            -- or og:url (%5) group on the declared target (normalize_url
            -- is an identity on these already-clean seeds); the rest fall
            -- back to the crawl url
            SELECT 'canonical', keep_id, canonical_url, NULL::VARCHAR,
                   n_dupes, NULL::BIGINT, NULL::VARCHAR
            FROM (
                SELECT min(doc_id)::BIGINT AS keep_id, canon AS canonical_url,
                       count(*)::BIGINT AS n_dupes
                FROM (
                    SELECT doc_id,
                           CASE WHEN doc_id % 2 = 0 OR doc_id % 5 = 0
                                THEN 'https://canon.example.org/c/' || (doc_id % 21)::VARCHAR
                                ELSE 'https://host-' || source || '.example.org/p/' || doc_id::VARCHAR
                           END AS canon
                    FROM documents
                ) GROUP BY canon
            )
            UNION ALL
            -- frontier variant: round-robin politeness interleave — the
            -- oracle USES the global window the Spark side provably avoids
            SELECT 'frontier', doc_id, NULL::VARCHAR, host,
                   frontier_pos, host_rank, NULL::VARCHAR
            FROM (
                WITH fu AS (
                    SELECT doc_id,
                           (CASE WHEN doc_id % 4 = 0 THEN 'deep.sub.' ELSE '' END)
                           || 'host-' || source || '.example.org' AS host
                    FROM documents
                ),
                fr AS (
                    SELECT doc_id, host,
                           row_number() OVER (PARTITION BY host ORDER BY doc_id)::BIGINT AS host_rank
                    FROM fu
                )
                SELECT doc_id, host, host_rank,
                       row_number() OVER (ORDER BY host_rank, host, doc_id)::BIGINT AS frontier_pos
                FROM fr
            )
            UNION ALL
            -- sitemap variant (robots.sitemap_entries): expected rows
            -- stated DIRECTLY from the seed parameters, independent of
            -- the XML parser under test (n = priority*10, matched =
            -- lastmod; the <sitemapindex> loc must NOT appear)
            SELECT 'sitemap', NULL::BIGINT,
                   'https://host-' || source || '.example.org/sm/' || doc_id::VARCHAR,
                   'host-' || source || '.example.org',
                   (CASE WHEN doc_id % 3 = 0 THEN 8 END)::BIGINT,
                   NULL::BIGINT,
                   CASE WHEN doc_id % 2 = 0
                        THEN '2024-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' END
            FROM documents
            UNION ALL
            SELECT 'sitemap', NULL::BIGINT,
                   'https://host-' || source || '.example.org/sm/amp&ersand',
                   'host-' || source || '.example.org',
                   NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM documents
        """,
        "gopher_quality": f"""
            WITH base AS (
                SELECT doc_id, text,
                       len(regexp_extract_all(text, '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?'))::BIGINT AS n_words,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       len(regexp_extract_all(text, '#|\\.\\.\\.|{_ell}')) AS syms,
                       string_split(text, chr(10)) AS lines,
                       list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '') AS ws
                FROM documents
            ),
            m AS (
                SELECT doc_id, n_words,
                       round(alpha / (CASE WHEN n_words > 0 THEN n_words END)::DOUBLE, 6) AS mean_word_len,
                       round(syms / (CASE WHEN n_words > 0 THEN n_words END)::DOUBLE, 6) AS symbol_word_ratio,
                       round(len(list_filter(lines, l -> substr(trim(l), 1, 1) IN ('{_bullet}', '-', '*')))
                             / (CASE WHEN len(lines) > 0 THEN len(lines) END)::DOUBLE, 6) AS bullet_line_frac,
                       round(len(list_filter(lines, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%{_ell}'))
                             / (CASE WHEN len(lines) > 0 THEN len(lines) END)::DOUBLE, 6) AS ellipsis_line_frac,
                       round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                             / (CASE WHEN len(ws) > 0 THEN len(ws) END)::DOUBLE, 6) AS alpha_word_frac,
                       ((CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bin\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bis\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END) + (CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END))::BIGINT AS n_stopwords_present
                FROM base
            ),
            g AS (
                SELECT *,
                       (n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3 AND mean_word_len <= 10
                        AND symbol_word_ratio <= 0.1
                        AND bullet_line_frac <= 0.9
                        AND ellipsis_line_frac <= 0.3
                        AND alpha_word_frac >= 0.8
                        AND n_stopwords_present >= 2)::BIGINT AS gopher_pass
                FROM m
            ),
            -- CCNet-style LM perplexity replay (operators/lm.py): same
            -- tokenizer ([^a-z0-9]+ means the same bytes in RE2 and Java),
            -- same min_count=2 model tables, same interpolation formula
            tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(translate(coalesce(text, ''), (chr(304) || chr(931)), ('i' || chr(963)))), '[^a-z0-9]+'), t -> t != '') AS toks
                FROM documents
            ),
            uni AS (
                SELECT u.tok AS tok, count(*)::BIGINT AS c
                FROM (SELECT unnest(toks) AS tok FROM tk) u
                GROUP BY 1
            ),
            voc AS (SELECT tok, c FROM uni WHERE c >= 2),
            tot AS (SELECT sum(c)::DOUBLE AS n_tok, count(*)::DOUBLE AS v FROM voc),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i])) AS w1,
                       unnest(list_transform(generate_series(1, len(toks) - 1), i -> toks[i+1])) AS w2
                FROM tk WHERE len(toks) >= 2
            ),
            bigc AS (
                SELECT b.w1, b.w2, count(*)::BIGINT AS c12
                FROM bg b
                JOIN voc x1 ON b.w1 = x1.tok
                JOIN voc x2 ON b.w2 = x2.tok
                GROUP BY 1, 2
                HAVING count(*) >= 2
            ),
            sc AS (
                SELECT b.doc_id,
                       (CASE WHEN b2.c12 IS NULL THEN 1 ELSE 0 END) AS oov,
                       ln(0.7 * coalesce(b2.c12::DOUBLE / v1.c::DOUBLE, 0.0)
                          + 0.25 * coalesce(v2.c::DOUBLE / t.n_tok, 0.0)
                          + 0.05 / (t.v + 1.0)) AS logp
                FROM bg b
                LEFT JOIN voc v1 ON b.w1 = v1.tok
                LEFT JOIN voc v2 ON b.w2 = v2.tok
                LEFT JOIN bigc b2 ON b.w1 = b2.w1 AND b.w2 = b2.w2
                CROSS JOIN tot t
            ),
            per AS (
                SELECT doc_id,
                       count(*)::BIGINT AS lm_n_bigrams,
                       round(sum(logp) / count(*), 6) AS lm_avg_logprob,
                       round(sum(oov)::DOUBLE / count(*), 6) AS lm_oov_frac
                FROM sc GROUP BY 1
            ),
            -- DSIR importance replay (operators/dsir.py): hashed bigram
            -- cells (md5 first-8-hex mod 2000), Laplace(1) cell
            -- multinomials, mean ln(p_target/p_raw) per doc
            cells AS (
                SELECT doc_id,
                       ('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 2000 AS cell
                FROM bg
            ),
            craw AS (SELECT cell, count(*)::BIGINT AS c_raw FROM cells GROUP BY 1),
            ctgt AS (SELECT cell, count(*)::BIGINT AS c_tgt FROM cells
                     WHERE doc_id % 5 = 0 GROUP BY 1),
            dtot AS (
                SELECT (SELECT sum(c_raw) FROM craw)::DOUBLE AS n_raw,
                       (SELECT coalesce(sum(c_tgt), 0) FROM ctgt)::DOUBLE AS n_tgt
            ),
            dsc AS (
                SELECT c.doc_id,
                       ln(((coalesce(ctgt.c_tgt, 0)::DOUBLE + 1.0) / (t.n_tgt + 2000.0))
                          / ((coalesce(craw.c_raw, 0)::DOUBLE + 1.0) / (t.n_raw + 2000.0))) AS lr
                FROM cells c
                LEFT JOIN craw USING (cell)
                LEFT JOIN ctgt USING (cell)
                CROSS JOIN dtot t
            ),
            dper AS (
                SELECT doc_id,
                       count(*)::BIGINT AS dsir_n_grams,
                       round(sum(lr) / count(*), 6) AS dsir_logratio
                FROM dsc GROUP BY 1
            ),
            -- linear classifier replay (dsir.linear_text_classifier) with
            -- TRAINED weights (dsir.train_nb_weights): naive-Bayes
            -- log-count-ratios, %5 slice positive vs rest, Laplace(1),
            -- weights rounded to 6 (the cross-engine float discipline),
            -- bias 0.25
            cneg AS (SELECT cell, count(*)::BIGINT AS c_neg FROM cells
                     WHERE doc_id % 5 != 0 GROUP BY 1),
            wmodel AS (
                SELECT coalesce(ctgt.cell, cneg.cell) AS cell,
                       coalesce(ctgt.c_tgt, 0)::DOUBLE AS c_pos,
                       coalesce(cneg.c_neg, 0)::DOUBLE AS c_neg
                FROM ctgt FULL OUTER JOIN cneg ON ctgt.cell = cneg.cell
            ),
            wtot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg FROM wmodel),
            wts AS (
                SELECT cell,
                       round(ln((c_pos + 1.0) / (t.n_pos + 2000.0))
                             - ln((c_neg + 1.0) / (t.n_neg + 2000.0)), 6) AS weight
                FROM wmodel CROSS JOIN wtot t
            ),
            cper AS (
                SELECT doc_id,
                       count(*)::BIGINT AS clf_n_grams,
                       round(sum(coalesce(weight, 0.0)) + 0.25, 6) AS clf_logit,
                       round(1.0 / (1.0 + exp(-(sum(coalesce(weight, 0.0)) + 0.25))), 6) AS clf_prob
                FROM cells LEFT JOIN wts USING (cell) GROUP BY 1
            ),
            -- Flesch/FK readability replay (textstats.readability_columns):
            -- alpha-run words, [.!?]+ sentence runs clamped >= 1, syllables
            -- = vowel-group runs + vowel-free-word clamp
            rb AS (
                SELECT doc_id,
                       regexp_extract_all(coalesce(text, ''), '[A-Za-z]+') AS aw,
                       len(regexp_extract_all(lower(translate(coalesce(text, ''), (chr(304) || chr(931)), ('i' || chr(963)))), '[aeiouy]+')) AS vr,
                       greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1) AS ns
                FROM documents
            ),
            rdc AS (
                SELECT doc_id,
                       len(aw)::BIGINT AS rd_n_words,
                       ns::BIGINT AS rd_n_sentences,
                       (vr + len(list_filter(aw, w -> NOT regexp_matches(lower(w), '[aeiouy]'))))::BIGINT AS rd_n_syllables
                FROM rb
            ),
            rdm AS (
                SELECT doc_id, rd_n_words, rd_n_sentences, rd_n_syllables,
                       round(206.835 - 1.015 * (rd_n_words / rd_n_sentences::DOUBLE)
                             - 84.6 * (rd_n_syllables / (CASE WHEN rd_n_words > 0 THEN rd_n_words END)::DOUBLE), 6) AS rd_flesch,
                       round(0.39 * (rd_n_words / rd_n_sentences::DOUBLE)
                             + 11.8 * (rd_n_syllables / (CASE WHEN rd_n_words > 0 THEN rd_n_words END)::DOUBLE) - 15.59, 6) AS rd_fk_grade
                FROM rdc
            ),
            joined AS (
                SELECT g.*,
                       rdm.rd_n_words, rdm.rd_n_sentences, rdm.rd_n_syllables,
                       rdm.rd_flesch, rdm.rd_fk_grade,
                       coalesce(per.lm_n_bigrams, 0)::BIGINT AS lm_n_bigrams,
                       per.lm_avg_logprob, per.lm_oov_frac,
                       coalesce(dper.dsir_n_grams, 0)::BIGINT AS dsir_n_grams,
                       dper.dsir_logratio,
                       coalesce(cper.clf_n_grams, 0)::BIGINT AS clf_n_grams,
                       cper.clf_logit, cper.clf_prob
                FROM g
                JOIN rdm ON g.doc_id = rdm.doc_id
                LEFT JOIN per ON g.doc_id = per.doc_id
                LEFT JOIN dper ON g.doc_id = dper.doc_id
                LEFT JOIN cper ON g.doc_id = cper.doc_id
            ),
            -- CCNet tercile replay (lm.perplexity_buckets): rank-based
            -- thresholds (min of the top-k multiset — no interpolation)
            -- over the deterministic 50% md5-hash sample
            psamp AS (
                SELECT lm_avg_logprob AS v FROM joined
                WHERE (('0x' || substr(md5('ppl-v1' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000) < 5000
            ),
            pm AS (SELECT count(*) AS n FROM psamp),
            pt1 AS (SELECT min(v) AS t FROM (
                SELECT v FROM psamp ORDER BY v DESC
                LIMIT (SELECT greatest(ceil(n / 3.0)::BIGINT, 1) FROM pm))),
            pt2 AS (SELECT min(v) AS t FROM (
                SELECT v FROM psamp ORDER BY v DESC
                LIMIT (SELECT greatest(ceil(2.0 * n / 3.0)::BIGINT, 1) FROM pm)))
            SELECT joined.*,
                   CASE WHEN lm_avg_logprob >= pt1.t THEN 'head'
                        WHEN lm_avg_logprob >= pt2.t THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM joined CROSS JOIN pt1 CROSS JOIN pt2
        """,
        "repetition_stats": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || text
                            ELSE text END AS t
                FROM documents
            ),
            base AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(t, chr(10)), p -> trim(p)), p -> p != '') AS kl,
                       list_filter(list_transform(string_split_regex(t, '\\n{2,}'), p -> trim(p)), p -> p != '') AS kp,
                       list_filter(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '') AS ws
                FROM d
            ),
            b AS (
                SELECT doc_id,
                       CASE WHEN len(kl) > 0 THEN round((len(kl) - len(list_distinct(kl))) / len(kl)::DOUBLE, 6) END AS dup_line_frac,
                       CASE WHEN len(kp) > 0 THEN round((len(kp) - len(list_distinct(kp))) / len(kp)::DOUBLE, 6) END AS dup_para_frac,
                       CASE WHEN len(ws) >= 2
                            THEN list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])
                            ELSE [] END AS bigrams
                FROM base
            ),
            ex AS (SELECT doc_id, unnest(bigrams) AS bg FROM b),
            c AS (SELECT doc_id, bg, count(*) AS c FROM ex GROUP BY 1, 2),
            agg AS (SELECT doc_id, max(c) AS top, sum(c) AS total FROM c GROUP BY 1),
            -- char entropy: same (?s). char tokenization as Spark
            chx AS (SELECT doc_id, unnest(regexp_extract_all(t, '(?s).')) AS ch FROM d),
            chc AS (SELECT doc_id, ch, count(*)::DOUBLE AS c FROM chx GROUP BY 1, 2),
            ent AS (
                SELECT doc_id,
                       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS char_entropy
                FROM chc GROUP BY doc_id
            ),
            -- full Gopher battery replay (textstats.gopher_repetition):
            -- words = non-empty ws-class split of trim(lower(t));
            -- total_chars = sum of word lengths (separators excluded)
            gw AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '') AS ws
                FROM d
            ),
            gwords AS (
                SELECT doc_id, g.i - 1 AS pos, ws[g.i] AS w
                FROM gw, unnest(generate_series(1, len(ws))) AS g(i)
            ),
            gtotals AS (
                SELECT doc_id, sum(length(w))::DOUBLE AS total_chars
                FROM gwords GROUP BY 1
            ),
            glines AS (
                SELECT doc_id, trim(x) AS p
                FROM d, unnest(string_split(t, chr(10))) AS u(x)
                WHERE trim(x) != ''
            ),
            glc AS (SELECT doc_id, p, count(*) AS c FROM glines GROUP BY 1, 2),
            gl AS (
                SELECT doc_id,
                       round(coalesce(sum(CASE WHEN c > 1 THEN c * length(p) END), 0)
                             / sum(c * length(p))::DOUBLE, 6) AS dup_line_char_frac
                FROM glc GROUP BY 1
            ),
            gparas AS (
                SELECT doc_id, trim(x) AS p
                FROM d, unnest(string_split_regex(t, '\\n{2,}')) AS u(x)
                WHERE trim(x) != ''
            ),
            gpc AS (SELECT doc_id, p, count(*) AS c FROM gparas GROUP BY 1, 2),
            gp AS (
                SELECT doc_id,
                       round(coalesce(sum(CASE WHEN c > 1 THEN c * length(p) END), 0)
                             / sum(c * length(p))::DOUBLE, 6) AS dup_para_char_frac
                FROM gpc GROUP BY 1
            ),
            goccs AS (
                SELECT doc_id, ns.n, g.i - 1 AS i,
                       array_to_string(ws[g.i:g.i + ns.n - 1], ' ') AS g
                FROM gw
                CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) ns(n),
                unnest(generate_series(1, greatest(len(ws) - ns.n + 1, 0)::BIGINT)) AS g(i)
            ),
            gcnt AS (SELECT doc_id, n, g, count(*) AS c FROM goccs GROUP BY 1, 2, 3),
            gtop AS (
                SELECT doc_id, n, (c * (length(g) - (n - 1)))::DOUBLE AS chars
                FROM (
                    SELECT doc_id, n, g, c,
                           row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g DESC) AS rn
                    FROM gcnt WHERE n IN (2, 3, 4)
                ) WHERE rn = 1
            ),
            gtopw AS (
                SELECT doc_id,
                       max(CASE WHEN n = 2 THEN chars END) AS t2,
                       max(CASE WHEN n = 3 THEN chars END) AS t3,
                       max(CASE WHEN n = 4 THEN chars END) AS t4
                FROM gtop GROUP BY 1
            ),
            gdup AS (SELECT doc_id, n, g FROM gcnt WHERE c > 1 AND n >= 5),
            gcov AS (
                SELECT DISTINCT o.doc_id, o.n, o.i + u.k AS pos
                FROM goccs o JOIN gdup USING (doc_id, n, g),
                unnest(generate_series(0, (o.n - 1)::BIGINT)) AS u(k)
            ),
            gcovc AS (
                SELECT v.doc_id, v.n, sum(length(w.w))::DOUBLE AS chars
                FROM gcov v JOIN gwords w ON v.doc_id = w.doc_id AND v.pos = w.pos
                GROUP BY 1, 2
            ),
            gcovw AS (
                SELECT doc_id,
                       max(CASE WHEN n = 5 THEN chars END) AS d5,
                       max(CASE WHEN n = 6 THEN chars END) AS d6,
                       max(CASE WHEN n = 7 THEN chars END) AS d7,
                       max(CASE WHEN n = 8 THEN chars END) AS d8,
                       max(CASE WHEN n = 9 THEN chars END) AS d9,
                       max(CASE WHEN n = 10 THEN chars END) AS d10
                FROM gcovc GROUP BY 1
            )
            SELECT b.doc_id, b.dup_line_frac, b.dup_para_frac,
                   CASE WHEN coalesce(agg.total, 0) > 0 THEN round(agg.top / agg.total::DOUBLE, 6) END AS top_bigram_frac,
                   coalesce(agg.total, 0)::BIGINT AS n_bigrams,
                   ent.char_entropy,
                   gl.dup_line_char_frac,
                   gp.dup_para_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gtopw.t2, 0) / gtotals.total_chars, 6) END AS top_2_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gtopw.t3, 0) / gtotals.total_chars, 6) END AS top_3_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gtopw.t4, 0) / gtotals.total_chars, 6) END AS top_4_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d5, 0) / gtotals.total_chars, 6) END AS dup_5_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d6, 0) / gtotals.total_chars, 6) END AS dup_6_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d7, 0) / gtotals.total_chars, 6) END AS dup_7_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d8, 0) / gtotals.total_chars, 6) END AS dup_8_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d9, 0) / gtotals.total_chars, 6) END AS dup_9_gram_char_frac,
                   CASE WHEN gtotals.total_chars > 0 THEN round(coalesce(gcovw.d10, 0) / gtotals.total_chars, 6) END AS dup_10_gram_char_frac
            FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id
                   LEFT JOIN ent ON b.doc_id = ent.doc_id
                   LEFT JOIN gtotals ON b.doc_id = gtotals.doc_id
                   LEFT JOIN gl ON b.doc_id = gl.doc_id
                   LEFT JOIN gp ON b.doc_id = gp.doc_id
                   LEFT JOIN gtopw ON b.doc_id = gtopw.doc_id
                   LEFT JOIN gcovw ON b.doc_id = gcovw.doc_id
        """,
        "boilerplate_lines": """
            WITH d AS (
                SELECT 'https://' || source || '.example.org/page/' || doc_id::VARCHAR AS url,
                       source AS host,
                       CASE WHEN doc_id % 4 != 0
                            THEN 'HOME | ABOUT | CONTACT' || chr(10) || text
                                 || chr(10) || 'Copyright ' || source || ' press'
                            ELSE text END AS text
                FROM documents
            ),
            l0 AS (SELECT url, host, string_split(coalesce(text, ''), chr(10)) AS ls FROM d),
            lines AS (
                SELECT url, host, (g.i - 1)::BIGINT AS pos, ls[g.i] AS line,
                       trim(ls[g.i]) AS key
                FROM l0, unnest(generate_series(1, len(ls))) AS g(i)
            ),
            host_docs AS (SELECT host, count(DISTINCT url) AS n_docs FROM d GROUP BY host),
            flagged AS (
                SELECT l.host, l.key
                FROM lines l JOIN host_docs h ON l.host = h.host
                WHERE l.key != ''
                GROUP BY l.host, l.key, h.n_docs
                HAVING count(DISTINCT l.url) >= 2
                   AND count(DISTINCT l.url) >= h.n_docs * 0.5
            ),
            kept AS (
                SELECT l.* FROM lines l
                LEFT JOIN flagged f ON l.host = f.host AND l.key = f.key
                WHERE f.key IS NULL
            ),
            rebuilt AS (
                SELECT url, string_agg(line, chr(10) ORDER BY pos) AS cleaned_text,
                       count(*) AS n_kept
                FROM kept GROUP BY url
            ),
            totals AS (SELECT url, count(*) AS n_lines FROM lines GROUP BY url)
            SELECT 'clean' AS variant, t.url AS key,
                   coalesce(r.cleaned_text, '') AS text,
                   (t.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n,
                   NULL::DOUBLE AS score, NULL::DOUBLE AS frac,
                   NULL::BIGINT AS flag
            FROM totals t LEFT JOIN rebuilt r ON t.url = r.url
            UNION ALL
            -- host_quality variant (weburl.host_quality_rollup): per-doc
            -- alpha ratio rounded 6, words>=30 pass flag, one row per host
            SELECT 'host_quality', host || '.example.org', NULL::VARCHAR,
                   n_docs, mean_score, pass_frac,
                   (mean_score >= 0.7 AND pass_frac >= 0.5)::BIGINT
            FROM (
                -- exact-integer mean (host_quality_rollup score_scale
                -- path): sum of round(q*1e6) as BIGINT, ONE division —
                -- avg() of 6-rounded values sits on a .5e-6 boundary
                -- whenever the scaled sum is odd and a cross-engine ulp
                -- flips round(,6) (fuzz seed 18)
                SELECT host, count(*)::BIGINT AS n_docs,
                       round(sum(round(q * 1000000, 0)::BIGINT)::DOUBLE
                             / (count(q) * 1000000)::DOUBLE, 6) AS mean_score,
                       round(sum(ok::BIGINT)::DOUBLE
                             / count(ok)::DOUBLE, 6) AS pass_frac
                FROM (
                    SELECT host,
                           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                 / length(text)::DOUBLE, 6) AS q,
                           (len(regexp_extract_all(text, '[A-Za-z0-9_](?:[A-Za-z0-9_-]*[A-Za-z0-9_])?')) >= 30)::INT AS ok
                    FROM d
                ) GROUP BY host
            )
        """,
        "extract_links": f"""
            WITH d AS (
                SELECT 'doc://' || doc_id::VARCHAR AS url,
                       '<p>' || text || '</p><a href="https://out.example.com/page'
                       || (doc_id % 20)::VARCHAR || '">Read <b>more</b> ' || (doc_id % 3)::VARCHAR
                       || '</a><a class=x href=''/local/' || (doc_id % 10)::VARCHAR
                       || '''>  local  </a><h1>Title ' || (doc_id % 7)::VARCHAR
                       || '</h1><h2 class=s> Sub <em>part ' || (doc_id % 5)::VARCHAR
                       || '</em>  line </h2>'
                       || '<table class=t><tr><th> Name </th><th>Qty</th></tr>'
                       || '<tr><td>item <b>' || (doc_id % 4)::VARCHAR
                       || '</b></td><td>' || (doc_id % 9)::VARCHAR
                       || '</td></tr></table>' AS html
                FROM documents
            ),
            m AS (
                SELECT url,
                       regexp_extract_all(html, '(?is)<a[ \\t\\n\\x0b\\f\\r][^>]*?href[ \\t\\n\\x0b\\f\\r]*=[ \\t\\n\\x0b\\f\\r]*["'']([^"'']*)["''][^>]*>(.*?)</a>', 1) AS hrefs,
                       regexp_extract_all(html, '(?is)<a[ \\t\\n\\x0b\\f\\r][^>]*?href[ \\t\\n\\x0b\\f\\r]*=[ \\t\\n\\x0b\\f\\r]*["'']([^"'']*)["''][^>]*>(.*?)</a>', 2) AS anchors
                FROM d
            ),
            links AS (
                SELECT url, (g.i - 1)::BIGINT AS link_no, hrefs[g.i] AS href,
                       trim(regexp_replace(anchors[g.i], '<[^>]+>', '', 'g')) AS anchor
                FROM m, unnest(generate_series(1, len(hrefs))) AS g(i)
            ),
            e AS (
                SELECT DISTINCT 'h' || (doc_id % 17)::VARCHAR AS s,
                                'h' || (doc_id % 23)::VARCHAR AS t
                FROM documents
            ),
            hm AS (
                SELECT url, regexp_extract_all(html, '{HEADING_RE}') AS fr
                FROM d
            ),
            tbl AS (
                SELECT url, generate_subscripts(ts, 1)::BIGINT - 1 AS tno,
                       unnest(ts) AS tb
                FROM (SELECT url, regexp_extract_all(html, '{TABLE_RE}', 1) AS ts FROM d)
            ),
            trw AS (
                SELECT url, tno, generate_subscripts(rs, 1)::BIGINT - 1 AS rno,
                       unnest(rs) AS rh
                FROM (SELECT url, tno, regexp_extract_all(tb, '{TABLE_TR_RE}', 1) AS rs FROM tbl)
            ),
            tcell AS (
                SELECT url, tno, rno,
                       list_transform(regexp_extract_all(rh, '{TABLE_CELL_RE}', 1),
                           c -> trim(regexp_replace(regexp_replace(c, '{_MC_TAG_RE}', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS cells
                FROM trw
            ),
            hd AS (
                SELECT url, (g.i - 1)::BIGINT AS link_no,
                       regexp_extract(fr[g.i], '{HEADING_LEVEL_RE}', 1)::BIGINT AS n,
                       trim(regexp_replace(regexp_replace(fr[g.i], '{_MC_TAG_RE}', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS anchor
                FROM hm, unnest(generate_series(1, len(fr))) AS g(i)
            ),
            {_pagerank_sql(iterations=3, damping=0.85)},
            {_hits_sql(iterations=3)}
            SELECT 'links' AS variant, url, link_no, href, anchor,
                   NULL::BIGINT AS n, NULL::DOUBLE AS score
            FROM links
            UNION ALL
            SELECT 'headings', url, link_no, NULL::VARCHAR, anchor, n,
                   NULL::DOUBLE
            FROM hd
            UNION ALL
            SELECT 'table_rows', url, rno, NULL::VARCHAR,
                   array_to_string(cells, ' | '), tno, NULL::DOUBLE
            FROM tcell WHERE len(cells) > 0
            UNION ALL
            SELECT 'anchors', NULL::VARCHAR, NULL::BIGINT, href, min(anchor),
                   count(*)::BIGINT, NULL::DOUBLE
            FROM links GROUP BY href
            UNION ALL
            SELECT 'pagerank', node, NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR,
                   NULL::BIGINT, rank
            FROM r3
            UNION ALL
            SELECT 'hits_hub', node, NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR,
                   NULL::BIGINT, hub
            FROM h3
            UNION ALL
            SELECT 'hits_auth', node, NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR,
                   NULL::BIGINT, auth
            FROM a3
        """,
        "main_content": f"""
            WITH pages AS (
                SELECT 'https://ex.org/doc/' || doc_id::VARCHAR AS url,
                       '{_MC_HEADER}' || '<article><p>' || text || '</p></article>'
                       || CASE WHEN doc_id % 3 = 0 THEN '{_MC_ASIDE}' ELSE '' END
                       || '{_MC_FOOTER}' AS html
                FROM documents
            ),
            b AS (SELECT url, string_split_regex(
                         regexp_replace(coalesce(html, ''), '{_MC_SCRIPT_RE}', ' ', 'g'),
                         '{_MC_BLOCK_RE}') AS bl
                  FROM pages),
            ex AS (SELECT url, unnest(bl) AS raw, generate_subscripts(bl, 1) AS pos FROM b),
            f AS (SELECT url, pos,
                         trim(regexp_replace(regexp_replace(raw, '{_MC_TAG_RE}', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS txt,
                         coalesce(list_sum(list_transform(
                             regexp_extract_all(raw, '{_MC_ANCHOR_RE}', 1),
                             a -> length(trim(regexp_replace(regexp_replace(a, '{_MC_TAG_RE}', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))), 0) AS lc
                  FROM ex),
            k AS (SELECT url, pos, txt FROM f
                  WHERE txt != '' AND len(string_split(txt, ' ')) >= 10
                    AND lc <= greatest(length(txt), 1) * 0.33),
            agg AS (SELECT url, string_agg(txt, chr(10) || chr(10) ORDER BY pos) AS main_text,
                           count(*)::BIGINT AS n_kept
                    FROM k GROUP BY url),
            tot AS (SELECT url,
                           (count(*) FILTER (WHERE txt != ''))::BIGINT AS n_blocks,
                           sum(lc) AS slc, sum(length(txt)) AS sch
                    FROM f GROUP BY url),
            meta AS (
                SELECT 'https://ex.org/doc/' || doc_id::VARCHAR AS url,
                       CASE WHEN doc_id % 4 = 0 THEN
                            '<html lang="EN-us"><head><title>  Doc ' || doc_id::VARCHAR
                            || chr(10) || '  and   more  </title>'
                            || '<meta name="description" content="Summary of doc '
                            || doc_id::VARCHAR
                            || '"><meta property="og:title" content="OG '
                            || doc_id::VARCHAR
                            || '"><meta property="article:published_time" '
                            || 'content="2024-03-07T08:15:00Z"></head>'
                       WHEN doc_id % 4 = 1 THEN
                            '<html><head><meta content="Reversed ' || doc_id::VARCHAR
                            || '" name="description">'
                            || '<meta name="robots" content=" NOINDEX , nofollow ">'
                            || '</head>'
                       WHEN doc_id % 4 = 2 THEN
                            '<html LANG=fr-FR ><head><title>Solo ' || doc_id::VARCHAR
                            || '</title></head><time datetime="2023-12-01">x</time>'
                       ELSE '<div>No head</div>' END AS mh
                FROM documents
            ),
            pm AS (
                SELECT url,
                       nullif(trim(regexp_replace(regexp_extract(mh, '{PG_TITLE_RE}', 1), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), '') AS pg_title,
                       coalesce(nullif(regexp_extract(mh, '{PG_DESC_NAME_FIRST_RE}', 1), ''),
                                nullif(regexp_extract(mh, '{PG_DESC_CONTENT_FIRST_RE}', 1), '')) AS pg_description,
                       lower(nullif(regexp_extract(mh, '{PG_LANG_RE}', 1), '')) AS pg_lang,
                       nullif(regexp_extract(mh, '{PG_OG_TITLE_RE}', 1), '') AS pg_og_title,
                       coalesce(nullif(regexp_extract(mh, '{PG_PUBLISHED_RE}', 1), ''),
                                nullif(regexp_extract(mh, '{PG_TIME_TAG_RE}', 1), '')) AS pg_date,
                       nullif(trim(regexp_replace(lower(coalesce(
                           nullif(regexp_extract(mh, '{PG_ROBOTS_NAME_FIRST_RE}', 1), ''),
                           nullif(regexp_extract(mh, '{PG_ROBOTS_CONTENT_FIRST_RE}', 1), ''),
                           '')), '[ \\t\\n\\x0b\\f\\r]*,[ \\t\\n\\x0b\\f\\r]*', ',', 'g')), '') AS pg_robots
                FROM meta
            )
            SELECT t.url,
                   coalesce(a.main_text, '') AS main_text,
                   t.n_blocks,
                   coalesce(a.n_kept, 0)::BIGINT AS n_kept,
                   round(slc / greatest(sch, 1)::DOUBLE, 6) AS link_density,
                   pg_title, pg_description, pg_lang, pg_og_title, pg_date,
                   pg_robots
            FROM tot t LEFT JOIN agg a USING (url) JOIN pm USING (url)
        """,
        "dedup_exact": f"""
            WITH d AS ({_DOCS_WITH_DUPES_SQL}),
            doc_tab AS (
                SELECT 'doc' AS variant,
                       md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fingerprint,
                       min(doc_id) AS keep_id,
                       NULL::BIGINT AS keep_idx,
                       count(*)::BIGINT AS n_dupes,
                       NULL::VARCHAR AS text
                FROM d GROUP BY 2
            ),
            -- REPLAY the construction (concat_ws skips NULL text in both
            -- engines) and the regex re-split: hardcoded idx 0..3 rows
            -- drift as soon as a document's own text contains blank lines
            -- (the blank-line regex split then yields more paragraphs) or is NULL
            -- (every index shifts down one)
            bodies AS (
                SELECT doc_id AS id,
                       concat_ws(chr(10) || chr(10),
                           text,
                           'Subscribe to our newsletter for updates.',
                           CASE WHEN doc_id % 3 = 0
                                THEN 'Copyright 2024 Example Org. All rights reserved.'
                                ELSE 'Unique closing ' || doc_id::VARCHAR END,
                           CASE WHEN doc_id % 5 = 0
                                THEN '   ' ELSE 'tail ' || doc_id::VARCHAR END
                       ) AS body
                FROM documents
            ),
            parts AS (
                SELECT id, string_split_regex(body, '\\n\\n+') AS ps FROM bodies
            ),
            paras AS (
                SELECT id, (g.i - 1)::INT AS idx, ps[g.i] AS para
                FROM parts, unnest(generate_series(1, len(ps)::BIGINT)) AS g(i)
            ),
            ranked AS (
                SELECT id, idx, para,
                       md5(regexp_replace(lower(translate(trim(para), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f,
                       row_number() OVER (PARTITION BY md5(regexp_replace(lower(translate(trim(para), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
                                          ORDER BY id, idx) AS rn,
                       count(*) OVER (PARTITION BY md5(regexp_replace(lower(translate(trim(para), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS cnt
                FROM paras WHERE length(trim(para)) >= 1
            ),
            para_tab AS (
                SELECT 'para' AS variant, f AS fingerprint, id AS keep_id,
                       idx::BIGINT AS keep_idx, cnt::BIGINT AS n_dupes,
                       NULL::VARCHAR AS text
                FROM ranked WHERE rn = 1
            ),
            kept AS (
                SELECT id, idx, para FROM ranked WHERE rn = 1
                UNION ALL
                SELECT id, idx, para FROM paras WHERE length(trim(para)) < 1
            ),
            rebuilt AS (
                SELECT 'para_doc' AS variant, NULL::VARCHAR AS fingerprint,
                       id AS keep_id, NULL::BIGINT AS keep_idx,
                       NULL::BIGINT AS n_dupes,
                       string_agg(para, e'\\n\\n' ORDER BY idx) AS text
                FROM kept GROUP BY id
            )
            SELECT * FROM doc_tab
            UNION ALL SELECT * FROM para_tab
            UNION ALL SELECT * FROM rebuilt
            UNION ALL
            -- NOT EXISTS, not NOT IN: a NULL fingerprint in the history
            -- (NULL-text doc) three-values NOT IN to zero rows, while the
            -- Spark side's left_anti keeps every non-matching row
            SELECT 'incr', n.f, n.doc_id, NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM (SELECT doc_id, md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f
                  FROM documents) n
            WHERE NOT EXISTS (
                SELECT 1 FROM documents h
                WHERE h.doc_id % 3 = 0
                  AND md5(regexp_replace(lower(translate(trim(h.text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) = n.f
            )
            UNION ALL
            -- bloom variant: exact-by-construction (sketch-then-verify),
            -- so the oracle is the identical anti-join
            SELECT 'bloom', n.f, n.doc_id, NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM (SELECT doc_id, md5(regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f
                  FROM documents) n
            WHERE NOT EXISTS (
                SELECT 1 FROM documents h
                WHERE h.doc_id % 3 = 0
                  AND md5(regexp_replace(lower(translate(trim(h.text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) = n.f
            )
            UNION ALL
            -- mh_incr variant: near-dup-against-history — replay the
            -- banded MinHash for history (%3 slice) and the new pass,
            -- anti-join on any-band collision
            SELECT 'mh_incr', NULL::VARCHAR, doc_id,
                   NULL::BIGINT, NULL::BIGINT, NULL::VARCHAR
            FROM ({_DOCS_WITH_DUPES_SQL}) nd
            WHERE doc_id % 3 != 0 AND doc_id NOT IN (
                WITH dd AS ({_DOCS_WITH_DUPES_SQL}),
                sh2 AS (SELECT doc_id AS id, doc_id % 3 = 0 AS is_hist,
                               list_distinct(list_transform({shingles}, s -> substr(md5(s), 1, 8))) AS sh
                        FROM dd WHERE regexp_matches(text, '\\S')),  -- _shingleable guard
                sig2 AS (SELECT id, is_hist, [{minhash}] AS mh FROM sh2),
                banded2 AS (SELECT id, is_hist, unnest([{bands}]) AS bucket FROM sig2)
                SELECT DISTINCT n.id
                FROM banded2 n JOIN (SELECT DISTINCT bucket FROM banded2 WHERE is_hist) h
                  ON n.bucket = h.bucket
                WHERE NOT n.is_hist
            )
        """,
        "dedup_ngram_jaccard": f"""
            WITH d AS ({_DOCS_WITH_DUPES_SQL}),
            sh AS (SELECT doc_id AS id,
                          list_distinct(list_transform({shingles}, s -> substr(md5(s), 1, 8))) AS sh
                   FROM d WHERE regexp_matches(text, '\\S')),  -- _shingleable guard
            sizes AS (SELECT id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT id, unnest(sh) AS shingle FROM sh),
            keep AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 1000),
            exk AS (SELECT ex.id, ex.shingle FROM ex JOIN keep USING (shingle)),
            pairs AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
                FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common / (sa.n_sh + sb.n_sh - common)::DOUBLE, 6) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE common / (sa.n_sh + sb.n_sh - common)::DOUBLE >= 0.8
        """,
        "dedup_minhash_lsh": f"""
            WITH {minhash_pairs_ctes}
            SELECT id_a, id_b, jaccard FROM mhpairs
        """,
        "dedup_clusters": f"""
            -- variant 'minhash_cc': connected components of the minhash
            -- pair graph (same CTEs as dedup_minhash_lsh), totalized over
            -- the corpus: min-reachable label via recursive transitive
            -- closure, singletons rep=self. variant 'semdedup': k-means
            -- cells over the duped embedding corpus (same CTE chain as
            -- ann_topk's ivf branch), within-cell cosine edges, recursive
            -- closure, farthest-from-centroid survivor per group.
            WITH RECURSIVE {minhash_pairs_ctes},
            edges AS (
                SELECT id_a AS a, id_b AS b FROM mhpairs
                UNION
                SELECT id_b, id_a FROM mhpairs
            ),
            reach(id, lab) AS (
                SELECT a, a FROM edges
                UNION
                SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.lab
            ),
            labels AS (SELECT id, min(lab) AS rep FROM reach GROUP BY id),
            tot AS (
                SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS cluster_rep
                FROM d LEFT JOIN labels l ON l.id = d.doc_id
            ),
            sd_base AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 13 = 0
            ),
            {_kmeans_sql(8, 2, src="sd_base")},
            sd_scored AS (
                SELECT e.vec_id AS id, e.v, c.cell,
                       round({_cos_sql('e.v', 'c.cvec')}, 6) AS sim
                FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL
            ),
            sd_assigned AS (
                SELECT id, v, cell, sim AS centroid_sim FROM (
                    SELECT id, v, cell, sim,
                           row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn
                    FROM sd_scored
                ) WHERE rn = 1
            ),
            sd_pairs AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM sd_assigned a JOIN sd_assigned b
                  ON a.cell = b.cell AND a.id < b.id
                WHERE round({_cos_sql('a.v', 'b.v')}, 6) >= 0.999
            ),
            sd_edges AS (
                SELECT id_a AS a2, id_b AS b2 FROM sd_pairs
                UNION
                SELECT id_b, id_a FROM sd_pairs
            ),
            sd_reach(id, lab) AS (
                SELECT a2, a2 FROM sd_edges
                UNION
                SELECT r.id, e2.b2 FROM sd_reach r JOIN sd_edges e2 ON e2.a2 = r.lab
            ),
            sd_labels AS (SELECT id, min(lab) AS rep FROM sd_reach GROUP BY id),
            sd_tot AS (
                SELECT a.id, a.cell, a.centroid_sim,
                       coalesce(l.rep, a.id) AS group_rep
                FROM sd_assigned a LEFT JOIN sd_labels l ON l.id = a.id
            )
            SELECT 'minhash_cc' AS variant, doc_id AS id, cluster_rep AS rep,
                   (count(*) OVER (PARTITION BY cluster_rep))::BIGINT AS aux,
                   NULL::DOUBLE AS sim,
                   doc_id = cluster_rep AS keep
            FROM tot
            UNION ALL
            SELECT 'semdedup', id, group_rep, cell::BIGINT, centroid_sim,
                   (row_number() OVER (
                        PARTITION BY group_rep ORDER BY centroid_sim, id) = 1)
            FROM sd_tot
        """,
        "simhash_groups": f"""
            WITH d AS ({_DOCS_WITH_DUPES_SQL}),
            w AS (SELECT doc_id AS id, list_distinct(string_split_regex(trim(lower(translate(text, (chr(304) || chr(931)), ('i' || chr(963))))), '[ \\t\\n\\x0b\\f\\r]+')) AS ws FROM d),
            h AS (SELECT id, ({simhash_bits})::BIGINT AS simhash FROM w)
            SELECT simhash, count(*)::BIGINT AS n_docs, min(id) AS min_id
            FROM h GROUP BY simhash HAVING count(*) > 1
        """,
        "ann_topk": f"""
            SELECT 'brute' AS method, vec_id::BIGINT AS hit_id, cosine_sim AS score FROM (
                WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS v FROM embeddings),
                q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
                SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine_sim
                FROM e, q WHERE vec_id != 0
                ORDER BY cosine_sim DESC, vec_id LIMIT 10
            )
            UNION ALL
            SELECT 'lsh' AS method, vec_id::BIGINT AS hit_id, cosine_sim AS score FROM (
                WITH e AS (
                SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS v,
                       (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
                     + (CASE WHEN embedding[9] >= 0 THEN 2 ELSE 0 END)
                     + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
                     + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END)
                     + (CASE WHEN embedding[33] >= 0 THEN 16 ELSE 0 END)
                     + (CASE WHEN embedding[41] >= 0 THEN 32 ELSE 0 END)
                     + (CASE WHEN embedding[49] >= 0 THEN 64 ELSE 0 END)
                     + (CASE WHEN embedding[57] >= 0 THEN 128 ELSE 0 END) AS bucket
                FROM embeddings
            ),
            q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0),
            -- multi-probe: query bucket plus all Hamming-1 neighbors
            probes AS (
                SELECT qv, unnest([qbucket,
                    xor(qbucket, 1), xor(qbucket, 2), xor(qbucket, 4),
                    xor(qbucket, 8), xor(qbucket, 16), xor(qbucket, 32),
                    xor(qbucket, 64), xor(qbucket, 128)]) AS probe
                FROM q
                )
                SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS cosine_sim
                FROM e, probes WHERE vec_id != 0 AND bucket = probe
                ORDER BY cosine_sim DESC, vec_id LIMIT 10
            )
            UNION ALL
            SELECT 'ivf' AS method, vec_id::BIGINT AS hit_id, cosine_sim AS score FROM (
                WITH {_kmeans_sql(8, 2)},
                scored AS (
                    SELECT e.vec_id AS id, e.v, c.cell,
                           round({_cos_sql('e.v', 'c.cvec')}, 6) AS sim
                    FROM e CROSS JOIN c2 c WHERE e.v IS NOT NULL
                ),
                assigned AS (
                    SELECT id, v, cell FROM (
                        SELECT id, v, cell,
                               row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn
                        FROM scored
                    ) WHERE rn = 1
                ),
                q AS (SELECT v AS qvec, cell AS qcell FROM assigned WHERE id = 0)
                SELECT id AS vec_id, round({_cos_sql('v', 'qvec')}, 6) AS cosine_sim
                FROM assigned, q WHERE id != 0 AND cell = qcell
                ORDER BY cosine_sim DESC, vec_id LIMIT 10
            )
            UNION ALL
            -- BM25 replay (operators/retrieval.py): same tokenizer as the
            -- LM oracle, Lucene idf, k1=1.2 b=0.75, query terms literal
            SELECT 'bm25' AS method, doc_id::BIGINT AS hit_id, score FROM (
                WITH tk AS (
                    SELECT doc_id,
                           list_filter(string_split_regex(lower(translate(coalesce(text, ''), (chr(304) || chr(931)), ('i' || chr(963)))), '[^a-z0-9]+'), t -> t != '') AS toks
                    FROM documents
                ),
                stats AS (
                    SELECT count(*)::DOUBLE AS n_docs, avg(len(toks))::DOUBLE AS avgdl FROM tk
                ),
                ex AS (
                    SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term FROM tk
                ),
                tf AS (
                    SELECT doc_id, term, dl, count(*)::DOUBLE AS tf
                    FROM ex WHERE term IN ('join', 'spark', 'window')
                    GROUP BY doc_id, term, dl
                ),
                dfc AS (SELECT term, count(*)::DOUBLE AS dft FROM tf GROUP BY term)
                SELECT doc_id,
                       round(sum(
                           ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
                           * tf * (1.2 + 1.0)
                           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                       ), 6) AS score
                FROM tf JOIN dfc USING (term) CROSS JOIN stats
                GROUP BY doc_id
                ORDER BY score DESC, doc_id LIMIT 10
            )
        """,
        "knn_join": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 4),
            s AS (
                SELECT q.q_id, e.vec_id,
                       round({_cos_sql('e.v', 'q.qv')}, 6) AS cosine_sim
                FROM e CROSS JOIN q WHERE e.vec_id != q.q_id
            )
            SELECT q_id, vec_id, cosine_sim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) AS rn
                FROM s
            ) WHERE rn <= 5
        """,
        "kmeans_centroids": f"""
            WITH {_kmeans_sql(8, 2)}
            SELECT cell::BIGINT AS cell, (g.i - 1)::BIGINT AS dim,
                   round(cvec[g.i], 6) AS value
            FROM c2, unnest(generate_series(1, 64)) AS g(i)
        """,
        "embedding_near_dupes": """
            WITH base AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 13 = 0
            ),
            e AS (
                SELECT vec_id AS id, list_transform(embedding, v -> v::DOUBLE) AS v,
                       (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
                     + (CASE WHEN embedding[9] >= 0 THEN 2 ELSE 0 END)
                     + (CASE WHEN embedding[17] >= 0 THEN 4 ELSE 0 END)
                     + (CASE WHEN embedding[25] >= 0 THEN 8 ELSE 0 END)
                     + (CASE WHEN embedding[33] >= 0 THEN 16 ELSE 0 END)
                     + (CASE WHEN embedding[41] >= 0 THEN 32 ELSE 0 END)
                     + (CASE WHEN embedding[49] >= 0 THEN 64 ELSE 0 END)
                     + (CASE WHEN embedding[57] >= 0 THEN 128 ELSE 0 END) AS bucket
                FROM base
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.id < b.id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        """,
        "cleaning_suite": """
            WITH d AS (
                SELECT doc_id,
                       'CHAPTER HEADING' || chr(10) || text || chr(10) ||
                       'THE VERY LONG RUNNING HEAD OF PAGES' || chr(10) || 'last line.' AS th,
                       'intro [Note: drop [nested [deep]]] ' || text ||
                       ' mid [stray] <p> </p> tail<br> <small> </small>.' AS tn,
                       '<p>Tagged</p>  intro' || chr(10) || chr(10) || '  ' || chr(10) || text || '  end  ' AS tc,
                       'Shared nav line' || chr(10) || 'unique intro' || chr(10) || 'Shared nav line' || chr(10) || chr(10)
                       || substr(text, 1, 30) || chr(10) || '  Shared nav line ' || chr(10) || 'The End' AS tr,
                       'Good opening sentence with plenty of words.' || chr(10) ||
                       'short line.' || chr(10) ||
                       'This line has no terminal punctuation' || chr(10) ||
                       'Please enable JavaScript to view this page.' || chr(10) ||
                       substr(text, 1, 40) || ' end.' || chr(10) ||
                       CASE WHEN doc_id % 5 = 0 THEN 'lorem ipsum dolor sit amet.'
                            ELSE 'Second good sentence is right here.' END || chr(10) ||
                       CASE WHEN doc_id % 7 = 0 THEN 'code block { display: none; }' || chr(10) ELSE '' END ||
                       'Final thoughts here. Another one! A question? Yes indeed.' AS tl,
                       'Perfectly clean opener with crummy alone and stuff apart. ' ||
                       CASE WHEN doc_id % 3 = 0 THEN 'This page has BadWord, content. '
                            WHEN doc_id % 3 = 1 THEN 'totally Crummy   STUFF appears. '
                            ELSE '' END || substr(text, 1, 40) AS tb
                FROM documents
            ),
            -- bad-words replay (content.badword_columns): lowercase,
            -- [^a-z0-9]+ token split, space-rejoin+pad, ' entry '
            -- substring per normalized list entry
            bwm AS (
                SELECT doc_id,
                       list_filter(['badword', 'crummy stuff'],
                           w -> contains(
                               ' ' || array_to_string(
                                   list_filter(string_split_regex(lower(translate(tb, (chr(304) || chr(931)), ('i' || chr(963)))), '[^a-z0-9]+'), x -> x != ''),
                                   ' ') || ' ',
                               ' ' || w || ' ')) AS matched
                FROM d
            ),
            rl AS (
                SELECT doc_id, string_split(tr, chr(10)) AS ls,
                       list_transform(string_split(tr, chr(10)), x -> trim(x)) AS ks
                FROM d
            ),
            -- C4 replay (content.c4_line_columns): terminal punctuation,
            -- >=3 words, no javascript; doc verdict >=5 sentences and no
            -- lorem ipsum / curly brace
            c4k AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(string_split(tl, chr(10)),
                               x -> trim(regexp_replace(x, chr(13) || '+$', ''))),
                           x -> regexp_matches(x, '[.!?"'']$')
                                AND len(list_filter(string_split_regex(x, '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) >= 3
                                AND NOT contains(lower(x), 'javascript')) AS kept
                FROM d
            )
            SELECT doc_id,
                   array_to_string(
                       list_filter(string_split(th, chr(10)),
                           x -> NOT (regexp_matches(x, '[A-Z]') AND NOT regexp_matches(x, '[a-z]')
                                     AND len(list_filter(string_split_regex(x, '[ \\t\\n\\x0b\\f\\r]+'), w -> w != '')) < 5)),
                       chr(10)) AS no_headers,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(tn,
                             '(?si)\\[Note:(?:[^\\[\\]]|\\[(?:[^\\[\\]]|\\[(?:[^\\[\\]]|\\[[^\\[\\]]*\\])*\\])*\\])*\\]', '', 'g'),
                           '<p>[ \\t\\n\\x0b\\f\\r]*</p>', '', 'g'),
                         '<br>[ \\t\\n\\x0b\\f\\r]*', '', 'g'),
                       '<small>[ \\t\\n\\x0b\\f\\r]*</small>', '', 'g'),
                     '(?s)\\[.*?\\]', '', 'g') AS no_notes,
                   array_to_string(
                       list_filter(
                           list_transform(
                               string_split(regexp_replace(regexp_replace(tc, '<[^>]+>', '', 'g'), ' +', ' ', 'g'), chr(10)),
                               x -> trim(x)),
                           x -> x != ''),
                       chr(10)) AS cleaned,
                   (SELECT array_to_string(
                        list_filter(rl.ls, (x, i) -> trim(x) = '' OR list_position(rl.ks, trim(x)) = i),
                        chr(10))
                    FROM rl WHERE rl.doc_id = d.doc_id) AS no_repeats,
                   array_to_string(kept, chr(10)) AS c4_text,
                   len(kept)::BIGINT AS c4_n_lines_kept,
                   len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]'))::BIGINT AS c4_n_sentences,
                   (CASE WHEN len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) >= 5
                         AND NOT contains(lower(tl), 'lorem ipsum')
                         AND NOT contains(tl, '{') THEN 1 ELSE 0 END)::BIGINT AS c4_keep,
                   len(matched)::BIGINT AS bw_hits,
                   list_sort(matched)[1] AS bw_first,
                   (CASE WHEN len(matched) = 0 THEN 1 ELSE 0 END)::BIGINT AS bw_keep
            FROM d JOIN c4k USING (doc_id) JOIN bwm USING (doc_id)
        """,
        "split_sections": """
            WITH d AS (
                SELECT doc_id,
                       '<h4><center>ONE</center></h4>' || text ||
                       '<h4><center>TWO</center></h4>tail of part two' AS t
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(t, '<h4><center>'), x -> trim(x)),
                                   x -> x != '' AND x != '<br>') AS secs
                FROM d
            )
            SELECT doc_id, g.i::BIGINT AS section_no, secs[g.i] AS section_text
            FROM s, unnest(generate_series(1, len(secs))) AS g(i)
        """,
        "speak_tag_check": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN '<speak><speak>' || text
                            WHEN doc_id % 10 = 5 THEN text
                            ELSE '<speak>' || text || '</speak>' END AS ssml
                FROM documents
            )
            SELECT doc_id,
                   (len(string_split(ssml, '<speak>')) - 1)::BIGINT AS n_open,
                   (len(string_split(ssml, '</speak>')) - 1)::BIGINT AS n_close,
                   (len(string_split(ssml, '<speak>')) - 1 = 1
                    AND len(string_split(ssml, '</speak>')) - 1 = 1) AS ok
            FROM d
        """,
        "punctuation_rule": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0 THEN '<speak>' || text || '</s>. done</speak>'
                            ELSE '<speak>' || text || '</speak>' END AS ssml
                FROM documents
            ),
            m AS (
                SELECT doc_id, unnest(regexp_extract_all(ssml, '(</?[^>]+>)[ \\t\\n\\x0b\\f\\r]*([.,:;])')) AS m
                FROM d
            )
            SELECT doc_id, regexp_extract(m, '^(</?[^>]+>)', 1) AS tag
            FROM m
            WHERE regexp_extract(m, '^(</?[^>]+>)', 1) NOT IN ('<phoneme>', '</phoneme>', '<lang>', '</lang>')
        """,
        "single_letters_rule": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 6 = 0 THEN text || ' q x B end' ELSE text END AS t
                FROM documents
            )
            SELECT doc_id, unnest(regexp_extract_all(t, '\\b[B-HJ-NP-Zb-hj-np-ru-z]\\b')) AS letter
            FROM d
        """,
        "translation_ratio": f"""
            WITH d AS (
                SELECT doc_id, text AS latin,
                       CASE WHEN doc_id % 9 = 0 THEN substr(text, 1, 20)
                            ELSE '<speak>' || text || ' more words here</speak>' END AS ssml
                FROM documents
            ),
            c AS (
                SELECT doc_id,
                       len(regexp_extract_all(latin, '{_WORD_RE_SQL}'))::BIGINT AS latin_words,
                       len(regexp_extract_all(
                           regexp_replace(regexp_replace(ssml, '(?s)<[ \\t\\n\\x0b\\f\\r]*sub[ \\t\\n\\x0b\\f\\r]+[^>]*>.*?</[ \\t\\n\\x0b\\f\\r]*sub[ \\t\\n\\x0b\\f\\r]*>', '', 'g'),
                                          '<[^>]+>', '', 'g'),
                           '{_WORD_RE_SQL}'))::BIGINT AS english_words
                FROM d
            )
            SELECT doc_id, latin_words, english_words,
                   round(english_words / latin_words::DOUBLE, 6) AS ratio
            FROM c
            WHERE english_words / latin_words::DOUBLE < 0.95
               OR english_words / latin_words::DOUBLE > 3.0
        """,
        "running_durations": f"""
            WITH r AS (
                SELECT doc_id,
                       (n_chars * 20)::BIGINT AS duration_ms,
                       (sum(n_chars * 20) OVER w - n_chars * 20)::BIGINT AS start_ms,
                       -- coalesce mirrors blocked_running_sum's TOTALITY:
                       -- the operator defines a leading-NULL prefix as 0
                       -- (running offsets must exist for every row), where
                       -- a raw window sum is NULL until the first non-NULL
                       -- (fuzz seed 42: first doc with NULL n_chars; the
                       -- stray NULL also promoted the whole pandas column
                       -- to float, mismatching every row's rendering)
                       coalesce(sum(n_chars * 20) OVER w, 0)::BIGINT AS end_ms
                FROM documents
                WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT doc_id, duration_ms, start_ms, end_ms,
                   {fmt_ms('start_ms')} AS srt_start, {fmt_ms('end_ms')} AS srt_end
            FROM r
        """,
        "ordering_nav": """
            SELECT doc_id, source,
                   lag(source) OVER (ORDER BY doc_id) AS prev_source,
                   lead(source) OVER (ORDER BY doc_id) AS next_source,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id)::BIGINT AS part_no,
                   row_number() OVER (ORDER BY doc_id)::BIGINT AS global_part
            FROM documents
        """,
        "numeric_chunk_sort": """
            WITH d AS (
                SELECT doc_id,
                       'book_' || (doc_id % 7)::VARCHAR || '_chunk_' || ((doc_id * 37) % 991)::VARCHAR || '.txt' AS fname
                FROM documents
            )
            SELECT doc_id, fname,
                   row_number() OVER (ORDER BY regexp_extract(fname, '_chunk_(\\d+)\\.txt$', 1)::BIGINT, fname, doc_id)::BIGINT AS rank
            FROM d
        """,
        "sessionize_events": """
            WITH o AS (
                SELECT user_id, event_id, value, epoch_us(ts) AS t,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                                 (PARTITION BY user_id ORDER BY ts, event_id)
                                 <= 1800000000
                            THEN 0 ELSE 1 END AS brk
                FROM events WHERE ts IS NOT NULL
            ),
            s AS (
                SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_no
                FROM o
            )
            SELECT user_id, min(t)::BIGINT AS start_us, max(t)::BIGINT AS end_us,
                   count(*)::BIGINT AS n_events,
                   round(coalesce(sum(value), 0), 6) AS sum_value
            FROM s GROUP BY user_id, session_no
        """,
        "winnow": """
            SELECT 'char' AS variant, doc_id, fingerprint FROM (
                WITH d AS (
                    SELECT doc_id,
                           regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS nrm
                    FROM documents
                ),
                h AS (
                    SELECT doc_id,
                           list_transform(
                               generate_series(1, greatest(len(nrm) - 7, 1)),
                               i -> substr(md5(substr(nrm, i, 8)), 1, 8)) AS hs
                    FROM d
                ),
                w AS (
                    SELECT doc_id,
                           list_distinct(list_transform(
                               generate_series(1, greatest(len(hs) - 3, 1)),
                               j -> list_min(hs[j:j+3]))) AS fps
                    FROM h
                )
                SELECT doc_id, unnest(fps) AS fingerprint FROM w
            )
            UNION ALL
            SELECT 'word' AS variant, doc_id, fingerprint FROM (
                WITH d AS (
                    SELECT doc_id,
                           string_split(
                               regexp_replace(lower(translate(trim(text), (chr(304) || chr(931)), ('i' || chr(963)))), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'),
                               ' ') AS ws
                    FROM documents
                ),
                g AS (
                    SELECT doc_id,
                           CASE WHEN len(ws) >= 4
                                THEN list_transform(
                                    generate_series(1, len(ws) - 3),
                                    i -> array_to_string(ws[i:i+3], ' '))
                                ELSE [array_to_string(ws, ' ')]
                           END AS grams
                    FROM d
                ),
                h AS (
                    SELECT doc_id,
                           list_transform(grams, g -> substr(md5(g), 1, 8)) AS hs
                    FROM g
                ),
                w AS (
                    SELECT doc_id,
                           list_distinct(list_transform(
                               generate_series(1, greatest(len(hs) - 3, 1)),
                               j -> list_min(hs[j:j+3]))) AS fps
                    FROM h
                )
                SELECT doc_id, unnest(fps) AS fingerprint FROM w
            )
        """,
        "media_features": """
            WITH d AS (
                SELECT 'doc://' || doc_id::VARCHAR AS url, hex(encode(text)) AS hx
                FROM documents
            ),
            b AS (
                SELECT url,
                       ((instr('0123456789ABCDEF', substr(hx, (2*i-1)::BIGINT, 1)) - 1) * 16
                        + instr('0123456789ABCDEF', substr(hx, (2*i)::BIGINT, 1)) - 1) // 4 AS dim
                FROM d, unnest(generate_series(1, len(hx) // 2)) AS t(i)
            ),
            c AS (SELECT url, dim, count(*)::DOUBLE AS cnt FROM b GROUP BY 1, 2),
            n AS (SELECT url, sqrt(sum(cnt * cnt)) AS nrm FROM c GROUP BY 1),
            -- pcm variant: replay the sample FORMULA the Spark side turned
            -- into real WAV bytes (s_i = ((doc_id*7 + i*37) % 65536) -
            -- 32768, N = 32 + doc_id%33, 8000 Hz); all accumulations are
            -- exact integers cast to double at the final division, so the
            -- engine's decode+features must match bit-for-bit after round6
            pcms AS (
                SELECT doc_id, n, i,
                       ((doc_id * 7 + i * 37) % 65536 - 32768) AS si
                FROM (
                    SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                    FROM (SELECT doc_id, (32 + doc_id % 33)::BIGINT AS n
                          FROM documents)
                )
            ),
            pcml AS (
                SELECT doc_id, n, si,
                       lag(si) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                FROM pcms
            ),
            pcma AS (
                SELECT doc_id, max(n) AS n,
                       round(sqrt(sum(si * si)::DOUBLE / max(n)), 6) AS rms,
                       max(abs(si))::DOUBLE AS peak,
                       sum(CASE WHEN prev IS NOT NULL AND si * prev < 0
                                THEN 1 ELSE 0 END)::DOUBLE AS zerox,
                       round(sum(CASE WHEN abs(si) >= 32256 THEN 1 ELSE 0 END)
                             / max(n)::DOUBLE, 6) AS clip,
                       round(sum(CASE WHEN abs(si) < 328 THEN 1 ELSE 0 END)
                             / max(n)::DOUBLE, 6) AS silence
                FROM pcml GROUP BY doc_id
            )
            SELECT 'hist' AS variant, c.url, dim::BIGINT AS dim,
                   round(cnt / nrm, 6) AS value
            FROM c JOIN n USING (url)
            UNION ALL
            SELECT 'pcm' AS variant, 'pcm://' || doc_id::VARCHAR AS url,
                   unnest(generate_series(0, 6))::BIGINT AS dim,
                   unnest([n::DOUBLE, round(n / 8000.0, 6), rms, peak,
                           zerox, clip, silence]) AS value
            FROM pcma
            UNION ALL
            -- undec variant: every constructed VP8-lossy payload must be
            -- tagged (value 1.0) by the Spark-side audit column
            SELECT 'undec' AS variant, 'webp://' || doc_id::VARCHAR AS url,
                   0::BIGINT AS dim, 1.0 AS value
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'undec_total' AS variant,
                   'corpus://webp-vp8-lossy' AS url,
                   0::BIGINT AS dim, count(*)::DOUBLE AS value
            FROM documents WHERE doc_id % 7 = 0
        """,
        "resize_media": """
            WITH d AS (
                SELECT 'doc://' || doc_id::VARCHAR AS url, hex(encode(text)) AS hx,
                       octet_length(encode(text)) AS L
                FROM documents WHERE octet_length(encode(text)) > 0
            )
            SELECT url, 8::BIGINT AS width, 8::BIGINT AS height, 64::BIGINT AS n_bytes,
                   md5(array_to_string(
                       list_transform(generate_series(0, 63),
                           k -> substr(hx, (2 * (CASE WHEN L = 1 THEN 0
                                                      ELSE (k * (L - 1)) // 63 END) + 1)::BIGINT, 2)),
                       '')) AS content_hex_md5
            FROM d
        """,
        "media_metadata": """
            SELECT 'doc://' || doc_id::VARCHAR AS url,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   md5(text) AS content_hash
            FROM documents
        """,
        "polly_assignment": """
            WITH chunks AS (
                SELECT source AS url, doc_id AS chunk_number,
                       CASE WHEN doc_id % 5 = 0 THEN 'Ruth'
                            WHEN doc_id % 5 = 1 THEN 'Gregory'
                            WHEN doc_id % 5 = 2 THEN NULL
                            WHEN doc_id % 5 = 3 THEN 'UnknownVoice'
                            ELSE 'Matthew' END AS voice
                FROM documents
            ),
            assigned AS (
                SELECT url, chunk_number,
                       CASE WHEN coalesce(voice, 'Matthew') IN ('Ruth', 'Matthew', 'Gregory')
                            THEN coalesce(voice, 'Matthew') ELSE 'Matthew' END AS voice_id,
                       row_number() OVER (ORDER BY url, chunk_number)::BIGINT AS global_part_number
                FROM chunks
            ),
            kept AS (SELECT * FROM assigned WHERE global_part_number >= 50)
            SELECT url, chunk_number, voice_id,
                   CASE voice_id WHEN 'Gregory' THEN 'long-form' ELSE 'generative' END AS engine,
                   global_part_number,
                   row_number() OVER (PARTITION BY url ORDER BY global_part_number)::BIGINT AS book_part_number,
                   printf('%s_part%03d_%s.mp3', url, global_part_number, voice_id) AS output_file
            FROM kept
        """,
        "display_titles": """
            WITH d AS (
                SELECT doc_id,
                       '<speak><p>' || text || '</p>' || chr(10) || chr(10) ||
                       '<p>second para</p><break/></speak>' AS ssml,
                       CASE WHEN doc_id % 3 = 0
                            THEN 'BOOK ONE' || chr(10) || 'THE ARGUMENT' || chr(10) || text
                            ELSE 'plain opening line' || chr(10) || text END AS t
                FROM documents
            ),
            l AS (
                SELECT doc_id, ssml,
                       list_transform(string_split(t, chr(10)), x -> trim(x)) AS lines
                FROM d
            ),
            r AS (
                SELECT doc_id, ssml, lines,
                       coalesce(nullif(list_position(
                           list_transform(lines, x -> CASE WHEN regexp_matches(x, '[A-Z]') AND NOT regexp_matches(x, '[a-z]') THEN 1 ELSE 0 END),
                           0), 0) - 1, len(lines)) AS run_len
                FROM l
            )
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           array_to_string(list_filter(string_split_regex(ssml, '<[^>]+>'), p -> p != ''), chr(10)),
                           '(?s)\\n[ \\t\\n\\x0b\\f\\r]*\\n', chr(10) || chr(10), 'g'),
                       '(?s)(\\n[ \\t\\n\\x0b\\f\\r]*){2,}', chr(10) || chr(10), 'g')) AS display_text,
                   coalesce(array_to_string(lines[1:run_len], chr(10)), '') AS title,
                   run_len::BIGINT AS n_title_lines
            FROM r
        """,
        "sample_frames": """
            SELECT 'doc://' || doc_id::VARCHAR AS url,
                   (g.i - 1)::BIGINT AS frame_no,
                   least(128, octet_length(encode(text)) - (g.i - 1) * 128)::BIGINT AS frame_bytes
            FROM documents,
                 unnest(generate_series(1, greatest(ceil(octet_length(encode(text)) / 128.0)::BIGINT, 1))) AS g(i)
            -- NULL text must emit NO frames (Spark's NULL payload -> no
            -- rows); without this, DuckDB's NULL-ignoring greatest/least
            -- fabricate one phantom 128-byte frame per NULL doc
            WHERE text IS NOT NULL
        """,
        "ocr_lines": f"""
            WITH {_BLOCKS_SQL},
            lines AS (
                SELECT url, page_no, floor(top / 0.02)::BIGINT AS line_key,
                       string_agg(text, ' ' ORDER BY "left", block_id, text) AS line_text,
                       min(top) AS top
                FROM blocks
                GROUP BY url, page_no, line_key
            )
            SELECT url, page_no,
                   row_number() OVER (PARTITION BY url, page_no ORDER BY line_key)::BIGINT AS line_no,
                   line_text, round(top, 6) AS top
            FROM lines
        """,
        "ocr_reconstruct": f"""
            WITH {_BLOCKS_SQL},
            lines0 AS (
                SELECT url, page_no, floor(top / 0.02)::BIGINT AS line_key,
                       string_agg(text, ' ' ORDER BY "left", block_id, text) AS line_text,
                       min(top) AS top
                FROM blocks
                GROUP BY url, page_no, line_key
            ),
            lines AS (
                SELECT url, page_no,
                       row_number() OVER (PARTITION BY url, page_no ORDER BY line_key)::BIGINT AS line_no,
                       line_text, top
                FROM lines0
            ),
            nodigit AS (
                -- folio strip only in the edge bands (ocr.FOLIO_RE shared
                -- via import: the roman class matches real words)
                SELECT * FROM lines
                WHERE NOT (regexp_matches(line_text, '{_OCR_FOLIO_RE}')
                           AND (top <= 0.08 OR top >= 0.9))
            ),
            npages AS (SELECT url, count(DISTINCT page_no) AS n_pages FROM nodigit GROUP BY url),
            edge AS (SELECT * FROM nodigit WHERE top <= 0.08 OR top >= 0.9),
            repeats AS (
                SELECT e.url, e.line_text
                FROM edge e
                GROUP BY e.url, e.line_text
                HAVING count(DISTINCT e.page_no) >= (SELECT n_pages FROM npages WHERE npages.url = e.url) * 0.5
                   AND count(DISTINCT e.page_no) >= 2
            ),
            kept AS (
                SELECT n.* FROM nodigit n
                LEFT JOIN repeats r ON n.url = r.url AND n.line_text = r.line_text
                WHERE NOT (r.line_text IS NOT NULL AND (n.top <= 0.08 OR n.top >= 0.9))
            )
            SELECT 'blocks' AS variant, url,
                   string_agg(line_text, chr(10) ORDER BY page_no, line_no) AS reconstructed_text
            FROM kept GROUP BY url
            UNION ALL
            {_pdf_expected_sql()}
        """,
        # Fixture-golden oracles: the six Python-semantics queries (sentence
        # chunking, DOM conversion, SSML normalization, stateful splitters,
        # corpus-wide first-wins dedup, SRT assembly) are not RE2/SQL-
        # expressible. Expected outputs are precomputed by
        # tools/make_goldens.py in ONE Python process (tools/golden_oracle.py
        # — the pure reference-parity functions, no Spark) and served to
        # DuckDB as parquet, turning the former rows-only checks into full
        # rows+schema+hash comparisons.
        "synchronized_texts": """
            SELECT source AS url,
                   string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS original_text,
                   string_agg('<speak>' || text || '</speak>', chr(10) || chr(10) ORDER BY doc_id) AS translated_text
            FROM documents
            GROUP BY source
        """,
        "extract_documents": _golden("extract_documents"),
        "extract_chunks": _golden("extract_chunks"),
        "split_ssml": _golden("split_ssml"),
        "validate_corpus": _golden("validate_corpus"),
        "srt_generate": _golden("srt_generate"),
        "srt_variants": _golden("srt_variants"),
        "dup_sentences": _golden("dup_sentences"),
        "dedup_sentences_corpus": _golden("dedup_sentences_corpus"),
    }
