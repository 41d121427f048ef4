"""Distributed connected components + duplicate-cluster assignment.

Duplicate clustering is the step AFTER pair generation in a web-scale
dedup pipeline (the FineWeb / Dolma / CCNet lineage): MinHash+LSH emits
near-duplicate PAIRS, but keeping one survivor per duplicate CLUSTER
requires the connected components of that pair graph — A~B and B~C put
{A, B, C} in one cluster even when the A~C pair was never emitted.
The reference app has no corpus-level notion of this (it processes one
book at a time); this module is part of the training-data operator suite
the round brief mandates beyond the reference.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — the
published shuffle-friendly formulation, converging in O(log^2 n) rounds
on any graph (O(log n) in practice) versus O(diameter) for naive label
propagation, which matters when near-dup chains are long (boilerplate
template drift across a host's pages produces exactly such chains).

Per node u with neighborhood N(u):
- large-star: m = min(N(u) ∪ {u}); emit (v, m) for every v in N(u)
  with v > u
- small-star: m = min({v in N(u): v < u} ∪ {u}); emit (v, m) for every
  v in N(u) with v < u, plus (u, m)

Scale shape — each half-round is ONE (node)-keyed min aggregation with
map-side partials plus ONE join of that per-node min back to the edge
list. Neighborhoods are never collected into a single task (no
collect_list / collect_set anywhere), so a celebrity node with 10^8
neighbors streams through an aggregation instead of materializing an
array; skewed join keys are AQE-skew-splittable. Each round cuts the
edge set with ``materialize.cut`` (a stored relation is a planning leaf,
so the O(rounds) lineage never reaches the optimizer), runs exactly one
count+checksum action for the convergence test, and then releases the
superseded round. Nothing corpus-sized ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import cut, release


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as distinct (u < v) pairs; self-loops and NULL
    endpoints dropped."""
    return (
        edges.select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    """(edge count, order-independent 64-bit checksum) in ONE action.
    bit_xor is overflow-free under ANSI mode and order-independent; the
    edge set is distinct so no pair can self-cancel. xxhash64 is
    internal-only here (never oracle-compared; CLAUDE.md's md5-only rule
    applies to compared VALUES)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("chk"),
    ).first()
    return int(row["n"]), int(row["chk"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Label every node of the undirected pair graph with the minimum node
    id of its connected component. Returns (id, rep) — one row per node
    that appears in at least one edge (isolated nodes have no edges to
    appear in; callers wanting total coverage left-join this onto the
    corpus and coalesce rep to id, as dedup_clusters does).

    Every round's edge set is a ``materialize.cut``. The cut is
    CORRECTNESS-critical here, not an option: each round references the
    edge set ~4 times (adjacency unions + min join), so an uncut analyzed
    plan grows ~4^rounds and OOMs the driver just stringifying the tree
    (observed; the CLAUDE.md iterative-graph invariant). Release is
    DETERMINISTIC: once a round's fingerprint action has stored the new
    edge set, the superseded round and the mid-round cut are released —
    one round of copies is live at a time, instead of O(log n) leaked
    checkpoint RDDs waiting for driver GC. The final round's blocks back
    the returned labels and are freed by the caller's
    ``materialize.scope``.

    Convergence is detected by fixpoint of the (count, bit_xor-of-xxhash64)
    edge-set fingerprint across a full large+small round; a false stop
    needs a 64-bit checksum collision at equal cardinality (~2^-64,
    accepted and documented). Raises RuntimeError if ``max_iter`` rounds
    don't converge — observed convergence is O(log n) rounds (a handful
    even for long chains; the proved bound is O(log^2 n)), so the default
    30 is generous headroom, and wrong cluster assignments must never be
    returned silently; callers hitting the limit on adversarial graphs
    raise ``max_iter`` explicitly.
    """
    e = cut(_canonical_edges(edges, src, dst))
    prev = _fingerprint(e)
    if prev[0] == 0:
        return e.select(F.col("u").alias("id"), F.col("v").alias("rep"))

    for _ in range(max_iter):
        # ---- large-star ----------------------------------------------
        # adjacency both directions; per-node min neighbor; re-attach
        # strictly larger neighbors to min(neighborhood ∪ self)
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            adj.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        lg = (
            adj.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # mid-round cut: the small-star half references this edge set
        # twice (adjacency union) — as a stored leaf both references
        # share one computation instead of re-running the large-star
        # agg+join per reference, and the plan stays O(1) deep
        e_mid = cut(_canonical_edges(lg, "a", "b"))

        # ---- small-star ----------------------------------------------
        # per-node min over SMALLER neighbors (∪ self); re-attach the
        # smaller neighbors and the node itself to it
        adj = e_mid.union(
            e_mid.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        small = adj.where(F.col("v") < F.col("u"))
        m = small.groupBy("u").agg(F.min("v").alias("m"))
        sm = (
            small.join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        e_new = cut(_canonical_edges(sm, "a", "b"))

        cur = _fingerprint(e_new)  # stores e_mid + e_new
        # e_new no longer reads its inputs: free the superseded round
        release(e, e_mid)
        e = e_new
        if cur == prev:
            # fixpoint: union of stars, each centered at its component min
            leaves = e.select(F.col("v").alias("id"), F.col("u").alias("rep"))
            roots = e.select(
                F.col("u").alias("id"), F.col("u").alias("rep")
            ).distinct()
            # belt-and-braces min: a leaf is in exactly one star at
            # fixpoint, but groupBy-min makes the output well-defined
            # under any interleaving
            return leaves.union(roots).groupBy("id").agg(
                F.min("rep").alias("rep")
            )
        prev = cur

    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment for every document: MinHash+LSH
    pair generation (dedup.minhash_lsh_pairs, unchanged) -> connected
    components -> (doc_id, cluster_rep, cluster_size, is_survivor).
    Both stages cut through ``materialize.cut``, so a session with a
    checkpoint dir stores them reliably (the multi-executor choice).

    Total over the input corpus: documents in no near-dup pair form
    singleton clusters (rep = self, size 1) via a map-side left join —
    the survivor policy `keep doc_id == cluster_rep` then drops exactly
    the non-representative members, the standard FineWeb/Dolma step.
    """
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        df, id_col=id_col, text_col=text_col, **minhash_kwargs
    )
    labels = connected_components(pairs, "id_a", "id_b")
    sizes = labels.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    clustered = labels.join(sizes, "rep")
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(clustered.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("rep", F.col("doc_id")).alias("cluster_rep"),
            F.coalesce("cluster_size", F.lit(1).cast("bigint")).alias(
                "cluster_size"
            ),
            (
                F.coalesce("rep", F.col("doc_id")) == F.col("doc_id")
            ).alias("is_survivor"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    round_to: int | None = 6,
) -> DataFrame:
    """Host-graph PageRank by unrolled power iteration — the web-graph
    authority signal crawl schedulers and quality filters consume.
    Returns (node, rank) over the union of endpoints after ``iterations``
    synchronous updates of

        rank = (1-d)/N + d * (sum_in contrib + dangling_mass / N)

    with per-iteration rounding to ``round_to`` decimals (default 6 —
    the repo's oracle-parity convention: keeps both engines' float
    trajectories in lockstep, kmeans precedent). CAUTION at web scale:
    above ~2x10^6 nodes the initial 1/N itself rounds to 0 at 6dp and
    every subsequent score stays 0 — pass ``round_to=None`` (full
    doubles, no lockstep) for production host graphs; the default is for
    oracle-compared runs. Dangling nodes (no outlinks) redistribute
    their mass uniformly, the standard correction.

    Scale shape per iteration: one join of the edge list with the rank
    table on src (both hash-partitioned on the node key — co-partitioned
    across iterations on a cluster), one groupBy(dst) sum with map-side
    partials, and two 1-row broadcast scalars (N, dangling mass) via
    crossJoin — never a collect. Hub pages (Zipf in-degree) land in the
    AGGREGATION, which tree-reduces; nothing is a per-node window.

    Plan discipline: each iteration references the previous rank table
    TWICE (contrib + dangling) and the static edge/node/degree tables
    once each, so an uncut logical plan grows ~2^iterations (observed
    234 Exchange nodes at 3 iterations on the contract query vs 7 cut).
    So the static tables are cut once and the rank table once per
    iteration (``materialize.cut`` — GraphFrames' own discipline for
    iterative algorithms), and the superseded round is released as soon
    as its replacement is stored (connected_components' cleanup)."""
    e = cut(edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct())
    nodes = cut(
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
    )
    out_deg = cut(
        e.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    )
    def _r(c):
        return F.round(c, round_to) if round_to is not None else c

    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", _r(F.lit(1.0) / F.col("n")).alias("rank")
    )
    d = float(damping)
    carried = None  # the stored rank table the next iteration reads
    for it in range(iterations):
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg["s"], "left")
        contrib = (
            with_deg.filter(F.col("deg").isNotNull())
            .select(F.col("s").alias("cs"), (F.col("rank") / F.col("deg")).alias("c"))
            .join(e, F.col("cs") == F.col("s"))
            .groupBy("t")
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["t"], "left")
            .crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                _r(
                    (1.0 - d) / F.col("n")
                    + d
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("dang") / F.col("n")
                    )
                ).alias("rank"),
            )
        )
        # cut the rank table so the next iteration's two references share
        # one leaf (last iteration left uncut: the caller's downstream
        # plan fuses with the final update) and free the superseded round
        if it < iterations - 1:
            ranks = cut(ranks)
            ranks.count()  # store before releasing the old round
            if carried is not None:
                release(carried)
            carried = ranks
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    round_to: int | None = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) by unrolled synchronous
    iteration — the complement to pagerank for link-graph curation: good
    HUBS are directories/link farms (downweight for training data), good
    AUTHORITIES are canonical sources (upweight). Returns
    (node, hub, auth) after ``iterations`` rounds of

        auth = normalize(sum_in hub);   hub = normalize(sum_out auth)

    with sum-normalization and per-half-step rounding to ``round_to``
    decimals (default 6 — the repo's lockstep convention, kmeans/pagerank
    precedent — so the DuckDB CTE replay tracks bit-for-bit through the
    rounding; pass None for production graphs past ~2x10^6 nodes, where
    6dp sum-normalized scores underflow to all-zero, pagerank's caveat).

    Scale shape per half-step: one edge⋈score join on the node key, one
    groupBy sum with map-side partials, one 1-row broadcast total via
    crossJoin. Plan discipline as in pagerank: the raw-score table is
    referenced twice per half-step (the total + the normalize), so the
    uncut plan doubles per half-step; so the static edge/node tables are
    cut once and the carried score table per iteration, with the
    superseded round released once its replacement is stored."""
    e = cut(edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct())
    nodes = cut(
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .distinct()
    )
    def _r(c):
        return F.round(c, round_to) if round_to is not None else c

    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )
    carried = None  # the stored score table the next iteration reads
    for it in range(iterations):
        a_raw = (
            e.join(
                scores.select(F.col("node").alias("s"), "hub"), "s"
            )
            .groupBy("t")
            .agg(F.sum("hub").alias("raw"))
        )
        a_tot = a_raw.agg(F.sum("raw").alias("tot"))
        auth = (
            nodes.join(a_raw, nodes["node"] == a_raw["t"], "left")
            .crossJoin(F.broadcast(a_tot))
            .select(
                "node",
                _r(
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("tot")
                ).alias("auth"),
            )
        )
        h_raw = (
            e.join(
                auth.select(F.col("node").alias("t"), "auth"), "t"
            )
            .groupBy("s")
            .agg(F.sum("auth").alias("raw"))
        )
        h_tot = h_raw.agg(F.sum("raw").alias("tot"))
        hub = (
            nodes.join(h_raw, nodes["node"] == h_raw["s"], "left")
            .crossJoin(F.broadcast(h_tot))
            .select(
                "node",
                _r(
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("tot")
                ).alias("hub"),
            )
        )
        scores = hub.join(auth, "node").select("node", "hub", "auth")
        if it < iterations - 1:
            scores = cut(scores)
            scores.count()
            if carried is not None:
                release(carried)
            carried = scores
    return scores
