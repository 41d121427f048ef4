"""Scalable corpus-global ordering primitives.

``Window.orderBy(...)`` with no ``partitionBy`` funnels the entire corpus
through ONE task — correct at test scale, fatal at 10^12 rows. Every global
ordering the engine needs (global part counters, running duration sums,
prev/next navigation, global ranks — reference ssml_processing.py:91-110,
timestamp.py:252-281, app.py:119-125) decomposes the same way:

1. pick a BLOCK key that is a monotone coarsening of the leading sort key
   (e.g. ``floor(doc_id / 4096)``, or the key itself when low-cardinality);
2. compute the per-block quantity with a PARTITIONED window (parallel,
   shuffle on block — the only corpus-sized exchange);
3. reduce one row per block (count / sum / first / last — map-side partial
   aggs) and prefix-scan that tiny table with a single-task window over
   #blocks rows, not #rows;
4. join the offsets back (AQE broadcasts the block table while it is small).

The result is bit-identical to the single-task global window. The prefix
scan is over #blocks rows; with ``block_size`` 4096 a 10^12-row corpus has
~2.4*10^8 blocks — past one task's comfort, so every primitive takes
``levels=2`` to recurse the same construction once (blocks of blocks: a
PARTITIONED scan within each super-block plus a single-task scan over the
~6*10^4 super-blocks). One extra level multiplies the tractable row count
by ``block_size``; nothing realistic needs a third.

Group-local orders go through here too: ``ordered_values`` is the one
order-stable fold of a group's values (``collect_list`` alone has no
post-shuffle order), and ``top_k_per`` the one per-key top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BLOCK_SIZE = 4096

_G = "_ord_block"
_G2 = "_ord_block_r"
_SB = "_ord_sblock"


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _join_blocks(blocked: DataFrame, per_block: DataFrame) -> DataFrame:
    """Join the per-block table back NULL-SAFELY: a NULL block key (a NULL
    sort key, or a non-matching regexp_extract key) forms its own block and
    keeps its rows — a plain inner join would silently drop them, while the
    single-task global window these primitives are bit-identical with keeps
    NULLs (nulls-first under Spark's default ASC ordering, which is also
    where the prefix-scan windows here place the NULL block)."""
    right = per_block.withColumnRenamed(_G, _G2)
    return blocked.join(
        right, F.col(_G).eqNullSafe(F.col(_G2)), "inner"
    ).drop(_G2)


def block_of(order_col: Column | str, block_size: int = DEFAULT_BLOCK_SIZE) -> Column:
    """Monotone block key for a numeric global sort key."""
    return F.floor(_as_col(order_col) / F.lit(block_size)).cast("bigint")


def _with_block(df: DataFrame, block: Column | str) -> DataFrame:
    return df.withColumn(_G, _as_col(block))


def _block_offsets(
    blocked: DataFrame,
    agg: Column,
    levels: int = 1,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """One row per block with the exclusive prefix scan of ``agg`` in block
    order. ``levels=1``: single-task window over #blocks rows. ``levels=2``:
    the documented recursion — blocks of blocks. The per-block table gets a
    super-block key (the same monotone coarsening, so prefix order is
    preserved); the scan decomposes into a PARTITIONED exclusive scan
    within each super-block plus a single-task exclusive scan over the
    #blocks/block_size super-block totals. Bit-identical to levels=1
    (integer adds reassociate freely); NULL block keys form the first
    super-block, matching the flat scan's nulls-first order."""
    if levels not in (1, 2):
        raise ValueError("levels must be 1 or 2")
    per_block = blocked.groupBy(_G).agg(agg.alias("_blk"))
    if levels == 1:
        scan = Window.orderBy(_G).rowsBetween(Window.unboundedPreceding, -1)
        return per_block.withColumn(
            "_offset", F.coalesce(F.sum("_blk").over(scan), F.lit(0))
        ).select(_G, "_offset")
    b2 = per_block.withColumn(_SB, block_of(F.col(_G), block_size))
    w_in = Window.partitionBy(_SB).orderBy(_G).rowsBetween(
        Window.unboundedPreceding, -1
    )
    inner = b2.withColumn("_off_in", F.coalesce(F.sum("_blk").over(w_in), F.lit(0)))
    scan2 = Window.orderBy(_SB).rowsBetween(Window.unboundedPreceding, -1)
    sb_off = (
        b2.groupBy(_SB)
        .agg(F.sum("_blk").alias("_sb_tot"))
        .withColumn("_sb_off", F.coalesce(F.sum("_sb_tot").over(scan2), F.lit(0)))
        .select(F.col(_SB).alias("_sb_r"), "_sb_off")
    )
    return (
        inner.join(sb_off, F.col(_SB).eqNullSafe(F.col("_sb_r")), "inner")
        .select(_G, (F.col("_off_in") + F.col("_sb_off")).alias("_offset"))
    )


def blocked_row_number(
    df: DataFrame,
    block: Column | str,
    within: list,
    out: str = "rn",
    levels: int = 1,
) -> DataFrame:
    """Global ``row_number() over (order by block, *within)`` without a
    global window: per-block row_number + exclusive cumulative block counts.
    ``levels=2`` recurses the offset scan (blocks of blocks) when #blocks
    itself outgrows one task — numeric block keys only at that level."""
    blocked = _with_block(df, block)
    w = Window.partitionBy(_G).orderBy(*within)
    offsets = _block_offsets(blocked, F.count(F.lit(1)), levels=levels)
    return (
        _join_blocks(blocked.withColumn("_rn_in", F.row_number().over(w)), offsets)
        .withColumn(out, (F.col("_offset") + F.col("_rn_in")).cast("bigint"))
        .drop(_G, "_rn_in", "_offset")
    )


def blocked_running_sum(
    df: DataFrame,
    block: Column | str,
    within: list,
    value_col: str,
    out: str = "running",
    levels: int = 1,
) -> DataFrame:
    """Global inclusive running sum over (block, *within) order. Exact for
    integral value columns; for doubles the add order matches a sequential
    left fold within each block (differences vs a strict global fold are the
    usual float-reassociation ulps). ``levels=2`` recurses the offset scan
    (blocks of blocks) when #blocks itself outgrows one task.

    NULL values contribute 0 and the output is TOTAL (never NULL). A raw
    global-window sum returns NULL until the first non-NULL value; here a
    block whose LEADING values are NULL would otherwise poison the whole
    block (NULL in-block prefix + offset = NULL) — and running offsets
    (token budgets, durations) must be defined for every row."""
    blocked = _with_block(df, block)
    w = Window.partitionBy(_G).orderBy(*within).rowsBetween(
        Window.unboundedPreceding, 0
    )
    offsets = _block_offsets(blocked, F.sum(value_col), levels=levels)
    return (
        _join_blocks(blocked.withColumn("_run_in", F.sum(value_col).over(w)), offsets)
        .withColumn(out, F.col("_offset") + F.coalesce(F.col("_run_in"), F.lit(0)))
        .drop(_G, "_run_in", "_offset")
    )


def blocked_lag_lead(
    df: DataFrame,
    block: Column | str,
    within: list,
    value_col: str,
    prev_out: str = "prev",
    next_out: str = "next",
    levels: int = 1,
) -> DataFrame:
    """Global ``lag/lead(value_col) over (order by block, *within)``:
    within-block lag/lead, with block-boundary values (last of the previous
    block / first of the next) carried through the tiny block table.
    ``levels=2`` computes the boundary navigation by RECURSING this same
    primitive over the per-block table (blocks of blocks, the struct of
    (first, last) as the carried value) — for when #blocks itself
    outgrows one task; numeric block keys only at that level."""
    blocked = _with_block(df, block)
    order_key = F.struct(*[_as_col(c) for c in within])
    w = Window.partitionBy(_G).orderBy(*within)
    fl = blocked.groupBy(_G).agg(
        F.min_by(value_col, order_key).alias("_first"),
        F.max_by(value_col, order_key).alias("_last"),
    )
    if levels == 1:
        scan = Window.orderBy(_G)
        boundaries = fl.select(
            _G,
            F.lag("_last").over(scan).alias("_prev_last"),
            F.lead("_first").over(scan).alias("_next_first"),
        )
    elif levels == 2:
        fl2 = fl.withColumnRenamed(_G, "_g0").withColumn(
            "_fl", F.struct("_first", "_last")
        )
        nav = blocked_lag_lead(
            fl2, block_of(F.col("_g0")), ["_g0"], "_fl",
            prev_out="_pfl", next_out="_nfl", levels=1,
        )
        boundaries = nav.select(
            F.col("_g0").alias(_G),
            F.col("_pfl._last").alias("_prev_last"),
            F.col("_nfl._first").alias("_next_first"),
        )
    else:
        raise ValueError("levels must be 1 or 2")
    return (
        _join_blocks(
            blocked.withColumn("_lag_in", F.lag(value_col).over(w))
            .withColumn("_lead_in", F.lead(value_col).over(w))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_cnt", F.count(F.lit(1)).over(Window.partitionBy(_G))),
            boundaries,
        )
        .withColumn(
            prev_out,
            F.when(F.col("_rn") == 1, F.col("_prev_last")).otherwise(F.col("_lag_in")),
        )
        .withColumn(
            next_out,
            F.when(F.col("_rn") == F.col("_cnt"), F.col("_next_first")).otherwise(
                F.col("_lead_in")
            ),
        )
        .drop(_G, "_lag_in", "_lead_in", "_rn", "_cnt", "_prev_last", "_next_first")
    )


def ordered_values(value: Column | str, *by: Column | str) -> Column:
    """Aggregate: the group's ``value``s in ``by`` order, ties broken by
    value (reference utils.py:226-234, timestamp.py:227-231 rebuild text in
    chunk / subtitle order). One ``(by..., value)`` struct per row, one
    ``array_sort(collect_list(...))``, then the value projected back out:
    NULL keys sort first (Spark's ascending default) and a NULL value keeps
    its slot, since the struct around it is never NULL. Callers
    ``array_join`` or ``flatten`` the result."""
    keys = [_as_col(c).alias(f"_k{i}") for i, c in enumerate(by)]
    pairs = F.collect_list(F.struct(*keys, _as_col(value).alias("_v")))
    return F.transform(F.array_sort(pairs), lambda s: s["_v"])


def top_k_per(df: DataFrame, key: str, order: list, k: int) -> DataFrame:
    """The first ``k`` rows of each ``key`` group in ``order``, in two
    window phases: per (key, input partition) keep ``k``, then per key keep
    ``k`` of the survivors. The first shuffle is keyed on (key, partition
    id), so one key holding the whole corpus still spreads over every
    partition's reducer, and the second moves at most P x k rows per key.
    ``order`` must be total (end it with a unique column) for a
    deterministic result."""
    w_local = Window.partitionBy(key, "_pid").orderBy(*order)
    w_final = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .drop("_pid", "_rn")
    )
