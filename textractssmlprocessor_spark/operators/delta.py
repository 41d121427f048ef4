"""Incremental crawl processing: snapshot-to-snapshot deltas and
dedup-against-history.

A recurring crawl does not reprocess 10^12 documents per pass — it diffs
the new snapshot against the previous one and routes only added/changed
pages into the (expensive) extraction and dedup stages. Both operators are
single-join compositions: on an Iceberg layout bucketed by url (SURVEY
§4), the joins are co-partitioned storage joins with no shuffle; elsewhere
they are one AQE-planned shuffle join on a near-unique key (no skew).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-url status between two crawl snapshots: ``added`` (url only in
    new), ``removed`` (only in old), ``changed`` (present in both, content
    fingerprint differs), ``unchanged``. Returns (key, old_fp, new_fp,
    status). Content equality is the same whitespace/case-normalized md5
    used by exact dedup, so "changed" means the text a model would train
    on changed — not that a byte of markup moved.

    Presence is tracked with EXPLICIT marker columns, never fp nullity:
    fingerprint(NULL text) is NULL, so a url present in both snapshots
    with a failed extraction on one side would otherwise masquerade as
    'added'/'removed'. NULL-vs-NULL fingerprints compare 'unchanged'
    (eqNullSafe — the trainable content state is identically absent);
    NULL-vs-text compares 'changed'."""
    o = old.select(
        F.col(key_col).alias("k"),
        fingerprint(F.col(text_col)).alias("old_fp"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("k"),
        fingerprint(F.col(text_col)).alias("new_fp"),
        F.lit(True).alias("_in_new"),
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, "k", "full_outer")
        .select(
            F.col("k").alias(key_col),
            "old_fp",
            "new_fp",
            status.alias("status"),
        )
    )


def new_against_history(
    new: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents of the new snapshot whose content fingerprint has never
    been seen before — the incremental-dedup gate that keeps a recurring
    crawl from re-admitting content retired in an earlier pass.
    ``seen_fingerprints`` is a 1-column (fingerprint) table (e.g. the
    accumulated output of dedup_exact across prior passes). One left_anti
    join on the fingerprint; the history side is a narrow table that
    Iceberg bucket-layout co-partitions with the new snapshot's
    fingerprint column at scale."""
    fingerprinted = new.withColumn("fingerprint", fingerprint(F.col(text_col)))
    return fingerprinted.join(
        seen_fingerprints.select("fingerprint").distinct(),
        "fingerprint",
        "left_anti",
    )


def _bloom_bits(fp: Column, m_bits: int, k: int) -> list[tuple[Column, Column]]:
    """The k Bloom bits of fingerprint ``fp`` as (word_idx, mask) pairs:
    hash_i = conv(md5(fp || ':' || i)[:8 hex], 16, 10) mod m_bits sets
    bit hash_i % 64 of the bigint word floor(hash_i / 64)."""
    out = []
    for i in range(1, k + 1):
        h = F.conv(
            F.substring(F.md5(F.concat(fp, F.lit(f":{i}"))), 1, 8), 16, 10
        ).cast("bigint") % m_bits
        # pyspark's shiftleft() wants a literal shift; the column-shift
        # form is the SQL function
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (h % 64).cast("int")
        )
        out.append((F.floor(h / 64).cast("bigint"), mask))
    return out


def bloom_bitmap(
    seen_fingerprints: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter bitmap over a history fingerprint set, as a DataFrame
    of (word_idx: bigint, bits: bigint) — m_bits/64 rows, built with one
    aggregation (bit_or partials are map-side). Dolma's incremental
    dedup design: the accumulated history is queried as a compact
    membership sketch, not joined as a table.

    Hashes are engine-portable BY CONSTRUCTION (the DSIR md5 convention,
    dsir.py:48): hash_i(fp) = conv(md5(fp || ':' || i)[:8 hex], 16, 10)
    mod m_bits. Any SQL engine replays them exactly, and the bitmap is a
    pure function of the fingerprint SET — insert order can't matter
    because bit_or is commutative.

    Size the sketch like any Bloom filter: false-positive rate
    ~ (1 - e^(-k*n/m))^k; m_bits = 2^30 (16 MiB as 2^24 words) holds
    10^8 fingerprints at ~1.2% FP with k=4. The bitmap table broadcasts
    (it is m/64 rows regardless of history size) — probing NEVER
    shuffles the corpus."""
    bits = [
        F.struct(word.alias("word_idx"), mask.alias("mask"))
        for word, mask in _bloom_bits(F.col("fingerprint"), m_bits, k)
    ]
    return (
        seen_fingerprints.select(F.explode(F.array(*bits)).alias("b"))
        .select("b.word_idx", "b.mask")
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def new_against_history_bloom(
    new: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """EXACT dedup-against-history via a Bloom pre-filter: same rows as
    ``new_against_history`` (bitwise — the oracle compares them against
    the plain anti-join), different scale shape.

    1. Probe: k broadcast joins of the corpus against the (m/64)-row
       bitmap — ALL map-side; the corpus does not shuffle. A row whose
       k bits aren't all set is DEFINITIVELY unseen (Bloom filters have
       no false negatives) and passes without ever touching the history
       table.
    2. Verify: only the maybe-seen remainder (true matches + the ~1% FP
       tail) pays the exact left_anti join against the full history.

    At 10^12 docs/pass with a mostly-novel crawl, step 2's join input is
    a few percent of the corpus instead of all of it — the standard
    sketch-then-verify trade, with exactness preserved by construction.
    """
    bitmap = bloom_bitmap(seen_fingerprints, m_bits=m_bits, k=k)
    probed = new.withColumn("fingerprint", fingerprint(F.col(text_col)))
    maybe = F.lit(True)
    for i, (word, mask) in enumerate(_bloom_bits(F.col("fingerprint"), m_bits, k)):
        probed = probed.withColumns({f"_h{i}": word, f"_m{i}": mask})
        w = F.broadcast(
            bitmap.select(
                F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
            )
        )
        probed = probed.join(w, F.col(f"_h{i}") == F.col(f"_w{i}"), "left")
        maybe = maybe & (
            F.col(f"_b{i}").isNotNull()
            & (F.col(f"_b{i}").bitwiseAND(F.col(f"_m{i}")) != 0)
        )
    probed = probed.withColumn("_maybe", maybe).drop(
        *[f"_{c}{i}" for i in range(k) for c in "hmwb"]
    )
    fresh = probed.filter(~F.col("_maybe")).drop("_maybe")
    candidates = probed.filter(F.col("_maybe")).drop("_maybe")
    verified = candidates.join(
        seen_fingerprints.select("fingerprint").distinct(),
        "fingerprint",
        "left_anti",
    )
    return fresh.unionByName(verified)
