"""Deduplication operators for web-scale corpora.

All variants are pure DataFrame compositions — no Python in the hot path —
and every hash is derived from md5 hex strings so the same computation is
reproducible in any engine (the DuckDB oracle computes identical values).

- exact:        md5 over whitespace/case-normalized text, groupBy, keep min id
- n-gram Jaccard: shingle explode -> groupBy shingle collecting the sorted id
                  list -> native pair explode -> pair agg. Singleton shingles
                  (the vast majority of a web corpus) die at the first
                  aggregation without ever entering a join; hot shingles
                  (stopword n-grams) are capped with a document-frequency
                  filter, the standard web-dedup trick. Two shuffles total
                  (shingle agg, pair agg), both on high-cardinality keys.
- MinHash+LSH:  per-seed minhash = min(md5(seed|shingle)); band buckets ->
                candidate pairs via the same group-and-pair-explode ->
                exact Jaccard verify. At 100 TB the pair generation touches
                only colliding bucket groups, never the full cross product.
- SimHash:      16-bit engine-portable variant: bit i = majority over words
                of (md5(word) hex digit i >= 8); near-dups = equal simhash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import cut
from .textstats import WS_PLUS, fingerprint, fold_lower


def _shingleable(df: DataFrame, text_col: str) -> DataFrame:
    """NULL/blank text is not shingle-fingerprintable: word_shingles'
    short-doc fallback gives every such document the IDENTICAL single
    shingle (md5 of ''), so m blank docs would form one co-occurrence
    group emitting ~m^2/2 jaccard=1.0 pairs — a quadratic clique at crawl
    scale (10^6 blank pages is ~5*10^11 rows), and one blank history doc
    would reject every future blank doc. Blank docs belong to EXACT dedup;
    the near-dup paths filter them out (winnow_fingerprint_table's guard,
    applied to the shingle family). rlike(\\S), not trim() != '': Spark's
    trim strips SPACES only, so a tab-only doc would slip through and seed
    its own whitespace-pattern clique."""
    return df.filter(F.col(text_col).rlike(r"\S"))


def _spread(df: DataFrame, id_col: str | None) -> DataFrame:
    """Spread a possibly few-partition input (single parquet file) across the
    cluster BEFORE the md5-heavy shingle/signature computation — otherwise
    the whole corpus hashes on a handful of tasks. At real scale the scan
    already has thousands of splits; this keeps small inputs honest too.

    Two-stage check: inputFiles() (source metadata, no job, no RDD
    conversion) short-circuits the many-files case — at real scale the
    scan has thousands of files and this is the path taken. When files
    are FEW, file count is a bad proxy (one 10 GB parquet file scans as
    ~80 x 128 MB splits), so estimate the scan's split count plan-side as
    total file bytes / spark.sql.files.maxPartitionBytes — still no job
    and no RDD conversion. Inputs whose bytes can't be inspected (non-file
    scheme, non-file-based plan) just take the repartition: one bounded
    shuffle beats hashing the corpus on a handful of tasks."""
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= parallelism:
        return df
    if files:
        import os
        from urllib.parse import urlparse

        total_bytes = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                total_bytes = -1
                break
            try:
                total_bytes += os.path.getsize(p.path)
            except OSError:
                total_bytes = -1
                break
        if total_bytes >= 0:
            jvm = spark.sparkContext._jvm
            max_split = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
            if -(-total_bytes // max(int(max_split), 1)) >= parallelism:
                return df
    # id_col=None -> round-robin: for callers with no cheap key (e.g. a
    # text-only LM trainer), hashing full document bodies as the partition
    # key would both pay megabyte-string hashing per row and send all
    # duplicate/empty texts to ONE partition — the exact straggler skew
    # this helper exists to prevent
    if id_col is None:
        return df.repartition(parallelism)
    return df.repartition(parallelism, F.col(id_col))


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Survivor per exact-content group: min id wins. Returns
    (fingerprint, keep_id, n_dupes)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("int").alias("n_dupes"),
        )
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-grams as a native array expression (no UDF).

    Built as a zip_with chain over shifted copies of the words array, NOT
    as transform(sequence, i -> slice(words, i, n)): a lambda that
    references the split expression re-evaluates the full split PER
    ELEMENT (the higher-order re-evaluation trap, PLANS.md) — O(words x
    chars) per document. zip_with lambdas reference only their arguments;
    the shifted slices each evaluate the split once, so the chain is
    O(n) passes over the array."""
    words = F.split(F.trim(fold_lower(text_col)), WS_PLUS)
    grams = words
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, 1 << 30),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.when(k > 0, F.slice(grams, 1, k)).otherwise(
            F.array(F.concat_ws(" ", words))
        )
    )


def _cooccurrence_member_pairs(
    exploded: DataFrame,
    key_col: str,
    member,
    max_group: int | None = None,
) -> DataFrame:
    """(a, b) rows for every ordered member pair sharing >=1 key, via
    groupBy(key) -> sorted member list -> two-step pair explode.

    Groups of size 1 (the vast majority: most shingles/buckets are unique
    to one document in a web corpus) are discarded at the first aggregation
    and never produce join traffic. The pair explode is TWO steps —
    posexplode the member, then explode the member's strict suffix — so
    per-output-row allocation is O(group), never the O(group^2) a single
    flattened pair array would materialize (a 10^4-member group streams
    5*10^7 pairs without ever holding them at once).

    ``max_group`` (optional) drops groups above a size cap (document-
    frequency cap on stopword shingles). Agg-buffer memory per key is
    bounded by the group size either way — for adversarial inputs with
    millions of repeats of one key, pre-filter hot keys with a broadcast
    anti-join before calling this.
    """
    groups = (
        exploded.groupBy(key_col)
        .agg(F.array_sort(F.collect_list(member)).alias("members"))
        .filter(F.size("members") >= 2)
    )
    if max_group is not None:
        groups = groups.filter(F.size("members") <= max_group)
    step1 = groups.select(
        F.posexplode("members").alias("i", "a"), F.col("members")
    )
    return step1.select(
        "a",
        F.explode(
            F.slice(F.col("members"), F.col("i") + F.lit(2), F.size("members"))
        ).alias("b"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """All document pairs with n-gram Jaccard >= threshold.

    Plan: explode shingles (each row carrying its document's shingle COUNT,
    so no separate sizes branch re-hashes the corpus and no join-back is
    needed) -> groupBy shingle collecting sorted (id, n_sh) members ->
    native (i<j) pair explode -> pair agg -> Jaccard from the carried
    counts. Exactly two shuffles (shingle agg, pair agg), both on
    high-cardinality keys; singleton shingles die at the first aggregation.
    Shingles ride as 8-hex md5 prefixes so the shuffle moves 8-byte keys,
    not full n-gram strings.
    """
    df = _shingleable(df, text_col)
    shingled = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        hashed_shingles(F.col(text_col), n, hash_fn).alias("sh"),
    )
    exploded = shingled.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    pairs = (
        _cooccurrence_member_pairs(
            exploded, "shingle", F.struct("id", "n_sh"), max_group=max_doc_freq
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = pairs.withColumn(
        "jaccard",
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def shingle_hash(col, hash_fn: str = "md5"):
    """Per-token hash: "md5" (8-hex prefix — engine-portable, the oracle
    default) or "xxhash64" (JVM-intrinsic bigint, no hex string
    materialization, 8-byte fixed-width shuffle keys). Measured at sf0.1 x
    32 cores: 8-25% end-to-end on minhash/ngram/winnow (the per-hash cost
    is far cheaper but explode+shuffle dominates these plans); the gap
    widens where the hash count per byte rises (char winnowing, larger
    num_hashes)."""
    if hash_fn == "md5":
        return F.substring(F.md5(col), 1, 8)
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unsupported hash_fn: {hash_fn!r}")


def gram_hash(col, hash_fn: str = "md5"):
    """FULL-width hash for exact-membership keys (the exact-substring
    path). The 32-bit ``shingle_hash`` prefix is fine where collisions
    only perturb a Jaccard estimate, but 'this k-gram occurs more than
    once' is a set-membership decision: at web scale, birthday collisions
    (~n^2 / 2^33 false pairs) would mark unique k-grams as duplicated and
    the removal side would silently delete unique text. Full md5
    (128-bit) for the oracle-portable default; xxhash64 (64-bit,
    JVM-intrinsic, fixed-width shuffle key) for the production path —
    at 10^12 grams xxhash64 still expects ~10^4 collisions, so md5 is
    the right default where deletion is irreversible."""
    if hash_fn == "md5":
        return F.md5(col)
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unsupported hash_fn: {hash_fn!r}")


def hashed_shingles(text_col, n: int = 3, hash_fn: str = "md5"):
    """Shingles compressed to token hashes (shingle_hash): 3-10x smaller
    arrays in every shuffle, identical Jaccard (collisions negligible)."""
    return F.array_distinct(
        F.transform(word_shingles(text_col, n), lambda s: shingle_hash(s, hash_fn))
    )


def minhash_signature_from_hashed(sh_col, num_hashes: int = 16,
                                  hash_fn: str = "md5"):
    """minhash_k = min over hashed shingles of seed-k(h): md5(k|h8) in the
    portable default, xxhash64(k, h) in the production path — either way
    the seeded hash acts as the permutation."""
    if hash_fn == "xxhash64":
        return F.array(
            *[
                F.array_min(F.transform(sh_col, lambda h: F.xxhash64(F.lit(k), h)))
                for k in range(num_hashes)
            ]
        )
    return F.array(
        *[
            F.array_min(
                F.transform(sh_col, lambda h: F.md5(F.concat(F.lit(f"{k}|"), h)))
            )
            for k in range(num_hashes)
        ]
    )


def _band_explode(num_hashes: int, bands: int, hash_fn: str):
    """Exploded band-bucket column over a materialized ``mh`` signature
    array: bucket = hash(band_idx | the band's signature rows). Shared by
    minhash_lsh_pairs and the band-table/history path so both produce
    IDENTICAL buckets (a history table written by one is probeable by the
    other across passes)."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): the "
            "trailing signature rows would be computed but silently never "
            "banded, changing the LSH S-curve from what was configured"
        )
    rows_per_band = num_hashes // bands
    return F.explode(
        F.array(
            *[
                (
                    F.xxhash64(
                        F.lit(b),
                        *[F.col("mh")[b * rows_per_band + r]
                          for r in range(rows_per_band)],
                    )
                    if hash_fn == "xxhash64"
                    else F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[F.col("mh")[b * rows_per_band + r]
                              for r in range(rows_per_band)],
                        )
                    )
                )
                for b in range(bands)
            ]
        )
    ).alias("bucket")


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, bucket) banded-MinHash table — ``bands`` rows per document,
    buckets identical to minhash_lsh_pairs' candidate keys. This is the
    artifact an incremental pipeline PERSISTS between passes: narrow
    (two hashes per row), content-free (no text leaves the pass), and
    append-only — exactly what near_dupes_against_history probes."""
    return (
        _spread(_shingleable(df, text_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            hashed_shingles(F.col(text_col), n, hash_fn).alias("sh"),
        )
        .withColumn(
            "mh", minhash_signature_from_hashed(F.col("sh"), num_hashes, hash_fn)
        )
        .select("id", _band_explode(num_hashes, bands, hash_fn))
    )


def near_dupes_against_history(
    new: DataFrame,
    history_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Rows of ``new`` that do NOT collide with the accumulated history
    band table in any MinHash band — the near-duplicate analogue of
    delta.new_against_history, and the reason an incremental crawl can
    near-dedup pass N against passes 1..N-1 without retokenizing them.

    Semantics are CANDIDATE-level (the LSH recall gate): a band collision
    drops the document without an exact-Jaccard verify, because the
    history table stores bands only — the standard incremental design
    (Dolma/FineWeb keep sketch tables between passes, not text). Within-
    pass pairs still go through minhash_lsh_pairs' verified path; this
    gate only guards against RE-ADMITTING content near-duplicating an
    earlier pass. Band parameters must match the history table's (same
    num_hashes/bands/hash_fn — enforced by construction when history
    was written by minhash_band_table).

    Scale shape: the new pass computes its band table map-side (after
    _spread); the collision test is one left_semi join on the band
    bucket — co-partitioned on an Iceberg layout bucketed by the band
    key — then one left_anti of ids. The corpus text never shuffles.

    NULL/blank documents produce no bands (the _shingleable guard), so
    they always PASS this gate — route them through exact dedup, where
    blank-vs-blank identity actually means something.
    """
    new_bands = minhash_band_table(
        new, id_col, text_col, n=n, num_hashes=num_hashes,
        bands=bands, hash_fn=hash_fn,
    )
    hit_ids = (
        new_bands.join(
            history_bands.select("bucket").distinct(), "bucket", "left_semi"
        )
        .select("id")
        .distinct()
    )
    return new.join(
        hit_ids.withColumnRenamed("id", id_col), id_col, "left_anti"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate pairs from banded MinHash buckets, verified with exact
    Jaccard over hashed shingles.

    Scale structure: the band table entering candidate generation is NARROW
    (id, bucket) — shingle arrays never ride through it; they are joined
    back exactly once per surviving candidate pair. Candidates come from
    group-and-pair-explode over the bucket key (_cooccurrence_member_pairs), so
    non-colliding buckets (the vast majority at 10^9 docs) are discarded at
    the first aggregation and never join.

    The signature table feeds three subtrees (bands + both verify sides);
    uncut, Spark would recompute the 16-seed md5 minhash per subtree, so
    it is cut once with ``materialize.cut``: a local checkpoint by default
    (fast, but executor-LOCAL blocks are unrecoverable on executor loss),
    a reliable checkpoint to the shared store when the session has a
    checkpoint dir (the multi-executor-cluster setting).

    ``max_bucket`` is None by default — every colliding pair is a
    candidate, matching the uncapped banded-self-join semantics (and the
    DuckDB oracle). Set it at production scale to skip degenerate buckets
    (e.g. the all-identical-boilerplate cluster), accepting that pairs
    inside skipped buckets are NOT reported.
    """
    sig = cut(
        _spread(_shingleable(df, text_col), id_col).select(
            F.col(id_col).alias("id"),
            hashed_shingles(F.col(text_col), n, hash_fn).alias("sh"),
        ).withColumn(
            "mh", minhash_signature_from_hashed(F.col("sh"), num_hashes, hash_fn)
        )
    )

    shingle_tbl = sig.select("id", "sh")
    banded = sig.select("id", _band_explode(num_hashes, bands, hash_fn))
    cand = (
        _cooccurrence_member_pairs(banded, "bucket", F.col("id"), max_group=max_bucket)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        cand.join(shingle_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(shingle_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def drop_duplicate_sentences(
    chunks: DataFrame,
    id_cols: tuple[str, str] = ("url", "chunk_number"),
    text_col: str = "ssml",
) -> DataFrame:
    """Corpus-wide boilerplate-sentence removal (the write side of
    validate.rule_duplicates, CCNet/Dolma-style): every sentence whose
    tag-stripped form already occurred earlier in the corpus (first-wins by
    (url, chunk_number, position)) is DROPPED; the first occurrence and all
    sentences with empty tag-stripped forms are kept. Returns the chunk
    table with ``text_col`` rebuilt from the surviving sentences
    (single-space joined — the original inter-sentence whitespace is
    consumed by the split, documented normalization).

    Assumes id_cols key the chunk table; physically duplicated rows are
    collapsed (one copy per (id, position)) rather than doubling every
    kept sentence. Chunks that lose every sentence (and chunks with NULL
    text) survive as empty strings — the output covers the input id set.

    Plan: sentence posexplode -> min-struct first-occurrence aggregation
    (map-side partials; the same no-hot-key shape as rule_duplicates) ->
    join back -> keep occ == first -> order-stable reassembly per chunk.
    The split and tag-strip patterns are SHARED with rule_duplicates so
    detection and removal can never disagree."""
    from .validate import _TAG_RE, SENTENCE_SPLIT_RE

    ids = chunks.select(*id_cols).dropDuplicates(list(id_cols))
    sent = chunks.select(
        *id_cols,
        F.posexplode(
            F.split(F.col(text_col), SENTENCE_SPLIT_RE, -1)
        ).alias("pos", "line"),
    ).dropDuplicates([*id_cols, "pos"]).withColumn(
        "clean_line", F.trim(F.regexp_replace("line", _TAG_RE, ""))
    )
    occ = F.struct(*id_cols, "pos")
    firsts = (
        sent.filter(F.col("clean_line") != "")
        .groupBy("clean_line")
        .agg(F.min(occ).alias("_first"))
    )
    kept = sent.join(firsts, "clean_line", "left").filter(
        (F.col("clean_line") == "") | (occ == F.col("_first"))
    )
    rebuilt = kept.groupBy(*id_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("i"), F.col("line").alias("l")))
                ),
                lambda s: s["l"],
            ),
            " ",
        ).alias(text_col)
    )
    return ids.join(rebuilt, list(id_cols), "left").select(
        *id_cols, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def benchmark_contamination(
    df: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
    hash_fn: str = "md5",
) -> DataFrame:
    """Decontamination scan: documents sharing >= min_overlap distinct word
    n-grams with a benchmark/probe corpus -> (id, n_overlap). The standard
    eval-set leakage check run before training.

    Plan: the probe corpus reduces to a DISTINCT hashed-shingle table
    (benchmark suites are tiny next to the corpus — AQE broadcasts it);
    document shingles explode once and semi-join-style inner join against
    it, then per-doc count. Shingles are already distinct per document, so
    count(*) is the distinct overlap. Raise ``n`` to tighten the match
    (13-grams is the common LLM decontamination setting); here the default
    stays low enough for short test documents."""
    probe_sh = (
        probes.select(
            F.explode(hashed_shingles(F.col(probe_text_col), n, hash_fn)).alias(
                "shingle"
            )
        )
        .distinct()
    )
    doc_sh = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(hashed_shingles(F.col(text_col), n, hash_fn)).alias("shingle"),
    )
    return (
        doc_sh.join(probe_sh, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_fn: str = "md5",
    keep_first: bool = True,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr side of
    the paper): any run of >= k whitespace tokens that occurs more than
    once in the corpus is a duplicate; per document, the duplicated k-gram
    occurrences merge into maximal token spans. Returns one row per merged
    span: (id, span_start, span_end, n_tokens) in 0-based token
    coordinates over the whitespace-normalized text, span_end exclusive.

    The paper builds one corpus-wide suffix array — inherently a
    single-machine construction. This formulation reaches the same span
    semantics with bounded distributed steps: (1) posexplode words and
    assemble k-gram hashes via a lead() chain (ONE per-doc window — the
    winnow_word_fingerprint_table machinery; docs shorter than k tokens
    cannot contain a duplicate and drop out); (2) one groupBy(gram hash)
    with map-side count partials finds grams occurring > 1 time, carrying
    the min (id, pos) struct as the canonical first occurrence (an
    aggregation, NOT a per-hash window — a boilerplate gram repeated 10^9
    times would make a window hot-key); (3) join the duplicated-hash table
    back to occurrences (AQE broadcasts it when small); with
    ``keep_first`` the canonical first occurrence is exempt, so one copy
    of every duplicated substring survives — the paper's deduplicated-
    corpus semantics rather than drop-all; (4) per-doc gaps-and-islands
    merge (per-id window: adjacent/overlapping [pos, pos+k) intervals
    fuse). Nothing corpus-global, no suffix array, no driver state; text
    case and punctuation are preserved (the match is exact, not
    normalized — only whitespace runs collapse).
    """
    from pyspark.sql import Window as W

    df = df.filter(F.col(text_col).isNotNull())
    norm = F.regexp_replace(F.trim(F.col(text_col)), WS_PLUS, " ")
    words = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.split(norm, " ")).alias("pos", "w")
    )
    wspec = W.partitionBy("id").orderBy("pos")
    whole = W.partitionBy("id")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(wspec) for i in range(1, k)]
    )
    grams = (
        words.select(
            "id", "pos", gram.alias("gram"), F.count("w").over(whole).alias("_n")
        )
        .filter(F.col("pos") <= F.col("_n") - k)  # full k-grams only
        # FULL-width gram key (gram_hash, not the 8-hex shingle_hash
        # prefix): 'occurs more than once' is exact membership — a 32-bit
        # key's birthday collisions would delete unique text at web scale
        .select("id", "pos", gram_hash(F.col("gram"), hash_fn).alias("h"))
    )
    dup = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(F.col("_c") > 1)
        .select("h", "_first")
    )
    occ = grams.join(dup, "h")
    if keep_first:
        occ = occ.filter(
            ~((F.col("id") == F.col("_first.id")) & (F.col("pos") == F.col("_first.pos")))
        )
    new_span = F.when(
        F.col("pos") <= F.lag("pos").over(wspec) + k, F.lit(0)
    ).otherwise(F.lit(1))  # NULL lag (first occurrence in doc) -> 1
    islands = occ.select("id", "pos", new_span.alias("_new")).select(
        "id",
        "pos",
        F.sum("_new").over(wspec.rowsBetween(W.unboundedPreceding, 0)).alias("_g"),
    )
    return (
        islands.groupBy("id", "_g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_fn: str = "md5",
) -> DataFrame:
    """The removal side of ``exact_substring_spans``: rebuild each
    document's text with every duplicated token span cut out, keeping the
    corpus-first occurrence of each duplicated k-gram (so one copy of
    every duplicated substring survives somewhere — Lee et al.'s
    deduplicated-corpus output). Returns (id, text) covering the input id
    set (NULL-text docs survive as empty strings; inter-token whitespace
    normalizes to single spaces, same documented normalization as
    drop_duplicate_sentences).

    Plan: spans (two shuffles, see exact_substring_spans) left-join back
    to the exploded words on id — a per-id equi-join; span rows per doc
    are few — then an anti range-filter and order-stable reassembly."""
    ids = df.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
    spans = exact_substring_spans(df, id_col, text_col, k, hash_fn, keep_first=True)
    norm = F.regexp_replace(F.trim(F.col(text_col)), WS_PLUS, " ")
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.posexplode(F.split(norm, " ")).alias("pos", "w")
    )
    hit = (
        words.join(spans, "id")
        .filter(
            (F.col("pos") >= F.col("span_start")) & (F.col("pos") < F.col("span_end"))
        )
        .select("id", "pos")
        .dropDuplicates(["id", "pos"])
    )
    kept = words.join(hit, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("i"), F.col("w").alias("t")))
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias(text_col)
    )
    return ids.join(rebuilt, ["id"], "left").select(
        "id", F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def winnow_fingerprint_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme) as distinct (id, fingerprint) rows: hash every
    character k-gram of the whitespace-normalized lowercased text, slide a
    window over the hash sequence, keep each window's minimum — any shared
    substring of length >= k + window - 1 yields a shared fingerprint.

    Plan shape: k-gram hashes posexplode to (id, pos, h8) rows, the window
    minimum is a sliding FRAME over a per-id window, then distinct. Cost
    is ~one md5 per character of corpus (heavier than the other dedup
    signatures — budget accordingly, or raise k/window, or winnow over
    word-grams for a ~6x cheaper variant with a per-word guarantee). A pure
    array-expression formulation would look cheaper but re-evaluates the
    whole hash array inside the per-window lambda (Spark does not cache
    outer expressions referenced by higher-order functions) — O(n^2) md5
    calls per document; the exploded form is linear and its one shuffle
    moves ~doc-sized 8-hex keys. Grouping the output by fingerprint (or
    feeding _cooccurrence_member_pairs) finds substring-sharing documents.
    """
    from pyspark.sql import Window as W

    # NULL text is not fingerprintable: Spark would otherwise emit an
    # (id, NULL) row (greatest(NULL,1) -> one NULL hash surviving the
    # frame filter) while SQL engines' list_distinct strips it — and a
    # NULL fingerprint would group all NULL-text docs as "duplicates"
    df = df.filter(F.col(text_col).isNotNull())
    # MATERIALIZE the normalized text as a bound column before the
    # higher-order transform: a lambda that references the regexp_replace
    # expression directly re-evaluates it PER ELEMENT (the same
    # re-evaluation trap documented for the window step below) — one full-
    # document regexp per character, O(n^2). As an attribute reference it
    # is a row-field read; the regexp runs once per document.
    nrm = df.select(
        F.col(id_col).alias("id"),
        F.regexp_replace(fold_lower(F.trim(F.col(text_col))), WS_PLUS, " ").alias(
            "_nrm"
        ),
    )
    n_grams = F.greatest(F.length("_nrm") - F.lit(k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: shingle_hash(F.substr(F.col("_nrm"), i, F.lit(k)), hash_fn),
    )
    exploded = nrm.select("id", F.posexplode(hashes).alias("pos", "h"))
    frame = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    whole = W.partitionBy("id")
    fp = exploded.select(
        "id",
        F.min("h").over(frame).alias("fingerprint"),
        F.count("h").over(frame).alias("_in_frame"),
        F.count("h").over(whole).alias("_total"),
    ).filter(
        # full windows only — except a doc shorter than the window, whose
        # single partial window is kept (mirrors slice semantics)
        F.col("_in_frame") == F.least(F.lit(window), F.col("_total"))
    )
    return fp.select("id", "fingerprint").distinct()


def winnow_word_fingerprint_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Word-gram winnowing: the character variant's scale path (~1 md5 per
    WORD of corpus instead of per character, ~6x cheaper) with a per-word
    match guarantee — any shared run of >= k + window - 1 words yields a
    shared fingerprint.

    Plan: posexplode words once, then BOTH the k-gram assembly (lead()
    chain, concat_ws skips the nulls past the tail so a doc shorter than k
    keeps its single partial gram — mirroring the char variant's slice
    semantics) and the window minimum ride the same
    partitionBy(id).orderBy(pos) window: ONE shuffle, one sort, linear
    md5 count. No array lambdas referencing outer expressions (the
    re-evaluation trap documented on the char variant)."""
    from pyspark.sql import Window as W

    df = df.filter(F.col(text_col).isNotNull())
    norm = F.regexp_replace(fold_lower(F.trim(F.col(text_col))), WS_PLUS, " ")
    words = df.select(
        F.col(id_col).alias("id"), F.posexplode(F.split(norm, " ")).alias("pos", "w")
    )
    wspec = W.partitionBy("id").orderBy("pos")
    whole = W.partitionBy("id")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(wspec) for i in range(1, k)]
    )
    grams = (
        words.select(
            "id", "pos", gram.alias("gram"), F.count("w").over(whole).alias("_n")
        )
        .filter(
            (F.col("pos") <= F.col("_n") - k)
            | ((F.col("_n") < k) & (F.col("pos") == 0))
        )
        .select("id", "pos", shingle_hash(F.col("gram"), hash_fn).alias("h"))
    )
    frame = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    fp = grams.select(
        "id",
        F.min("h").over(frame).alias("fingerprint"),
        F.count("h").over(frame).alias("_in_frame"),
        F.count("h").over(whole).alias("_total"),
    ).filter(F.col("_in_frame") == F.least(F.lit(window), F.col("_total")))
    return fp.select("id", "fingerprint").distinct()


def simhash16(text_col):
    """16-bit portable simhash: for hex position i in md5(word), bit = 1 iff
    the majority of words have digit >= 8 (top bit of the nibble).

    Prefer ``simhash16_from_hashes`` over a MATERIALIZED hash column when
    composing into an operator: used directly, the 16 per-bit aggregates
    each embed this expression as their child, re-running split+md5 16x
    per row (simhash_groups does the materialized split)."""
    words = F.array_distinct(F.split(F.trim(fold_lower(text_col)), WS_PLUS))
    return simhash16_from_hashes(F.transform(words, lambda w: F.md5(w)))


def simhash16_from_hashes(hashes):
    """simhash16 over an already-computed (ideally materialized-column)
    array of word md5 hex digests."""
    bits = []
    for i in range(1, 17):
        votes = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.upper(F.substring(h, i, 1)).isin("8", "9", "A", "B", "C", "D", "E", "F"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        bits.append(F.when(votes > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** (16 - i)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Documents sharing an identical 16-bit simhash (near-dup candidates)."""
    hashed = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        # split+md5 materialize as a bound column FIRST so the 16 per-bit
        # aggregates read a row field instead of each re-running the full
        # tokenize+hash chain (16x the work, the same re-evaluation family
        # as the higher-order-lambda trap)
        F.transform(
            F.array_distinct(F.split(F.trim(fold_lower(F.col(text_col))), WS_PLUS)),
            lambda w: F.md5(w),
        ).alias("_wh"),
    )
    h = hashed.select(
        "id", simhash16_from_hashes(F.col("_wh")).alias("simhash")
    )
    return (
        h.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.min("id").alias("min_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def paragraph_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n{2,}",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide paragraph fingerprint table (Dolma/CCNet paragraph dedup,
    Soldaini et al. 2024 §3.2): one row per distinct normalized paragraph
    with its first occurrence and corpus frequency.

    Returns (fingerprint, keep_id, keep_idx, n_dupes): md5 of the
    whitespace/case-normalized paragraph, the (id, paragraph-index) of the
    first occurrence in (id, idx) order, and how many times the paragraph
    appears corpus-wide. Paragraphs shorter than ``min_chars`` after
    trimming are excluded (never deduplicated, always kept by
    :func:`dedup_paragraphs`).

    Scale: one explode (map-side, no shuffle) and ONE shuffle — the
    groupBy(fingerprint) with map-side partial aggregation. Fingerprint
    cardinality is near-corpus-size, so the shuffle is well spread; there
    is no window over a global ordering anywhere.
    """
    paras = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
    ).filter(F.length(F.trim(F.col("para"))) >= min_chars)
    return (
        paras.select("id", "idx", fingerprint(F.col("para")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(F.struct("id", "idx")).alias("_first"),
            F.count(F.lit(1)).cast("int").alias("n_dupes"),
        )
        .select(
            "fingerprint",
            F.col("_first.id").alias("keep_id"),
            F.col("_first.idx").alias("keep_idx"),
            "n_dupes",
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n{2,}",
    join_sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Remove corpus-wide duplicate paragraphs, keeping each distinct
    paragraph only at its FIRST occurrence (lowest (id, paragraph-index)) —
    the Dolma paragraph-level dedup that strips repeated boilerplate
    ("subscribe to our newsletter") from every page but one while leaving
    unique prose untouched.

    Returns (id, text) with each document's surviving paragraphs re-joined
    by ``join_sep`` in their original order; documents whose paragraphs all
    die keep an empty-string text. Paragraphs shorter than ``min_chars``
    (after trim) are always kept.

    Scale: explode -> groupBy(fingerprint) [shuffle 1] -> join back on
    fingerprint [shuffle 2, AQE-planned; near-unique key so no skew] ->
    groupBy(id) rebuild via array_sort(collect_list(struct)) [shuffle 3,
    per-document state only — no global window]. Short paragraphs bypass
    the dedup joins entirely and union back in.
    """
    paras = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
    )
    short = paras.filter(F.length(F.trim(F.col("para"))) < min_chars)
    long_ = paras.filter(F.length(F.trim(F.col("para"))) >= min_chars)
    tagged = long_.withColumn("fp", fingerprint(F.col("para")))
    first = (
        tagged.groupBy("fp")
        .agg(F.min(F.struct("id", "idx")).alias("_first"))
        .select(
            "fp",
            F.col("_first.id").alias("_fid"),
            F.col("_first.idx").alias("_fidx"),
        )
    )
    kept = tagged.join(first, "fp").filter(
        (F.col("id") == F.col("_fid")) & (F.col("idx") == F.col("_fidx"))
    ).select("id", "idx", "para")
    survivors = kept.unionByName(short.select("id", "idx", "para"))
    rebuilt = survivors.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias(text_col)
    )
    # documents that lost every paragraph still appear, with empty text
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select("id", F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )
