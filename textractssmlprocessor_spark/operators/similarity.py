"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; sign-LSH bucketing is
the scale path (candidates only within a bucket — at 10^9 vectors the
bucket join replaces the full cross product). Dot products run JVM-side via
higher-order functions (zip_with + aggregate): no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; ZERO-NORM vectors score 0.0 (guarded CASE WHEN
    — lazily evaluated, so the division never runs on a zero denominator).
    Unguarded, a zero vector kills the job under ANSI (div-by-zero raises
    even for doubles — observed) or, with ANSI off, gives 0/0 = NaN, which
    Spark orders ABOVE every number and passes through >= filters — an
    all-zeros embedding would rank #1 in every top-k and chain unrelated
    documents into one near-dup cluster."""
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def _doubled(col: str) -> Column:
    # float32 -> float64 before arithmetic so Spark and the SQL oracle agree
    return F.transform(F.col(col), lambda v: v.cast("double"))


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to the query vector (brute force). The query
    row is a 1-row broadcast join — the scan stays narrow and map-only."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        _doubled(vec_col).alias("qvec")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(_doubled(vec_col), F.col("qvec")), 6).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def lsh_dims(n_bits: int = 8, dim_count: int = 64) -> list[int]:
    """The 1-based vector dimensions whose sign bits form the bucket id:
    n_bits dims spread evenly across the vector. n_bits=8/dim_count=64
    reproduces the original [1, 9, ..., 57] layout. Bucket width scales
    with corpus size — bits ≈ log2(n) - log2(target bucket size) keeps
    expected bucket occupancy constant as n grows."""
    if not 1 <= n_bits <= dim_count:
        raise ValueError(f"n_bits must be in [1, {dim_count}], got {n_bits}")
    stride = dim_count // n_bits
    return [1 + stride * i for i in range(n_bits)]


def sign_lsh_bucket(vec_col: str, dims: list[int] | None = None) -> Column:
    """Bucket id from sign bits of selected dimensions — a deterministic,
    engine-portable random-hyperplane LSH surrogate (axis-aligned planes)."""
    if dims is None:
        dims = lsh_dims()
    bit_terms = [
        F.when(F.element_at(F.col(vec_col), d) >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
        for i, d in enumerate(dims)
    ]
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def ann_lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim_count: int = 64,
) -> DataFrame:
    """Approximate top-k with MULTI-PROBE sign-LSH: score vectors in the
    query's bucket plus every Hamming-1 neighbor bucket (the vectors most
    likely separated from the query by one marginal hyperplane). Probing
    1 + n_bits of 2^n_bits buckets keeps the scan pruned to ~(n_bits+1)/2^b
    of the corpus while fixing single-bucket recall collapse (a near-boundary
    query whose own bucket is sparse finds its neighbors one bit away).

    ``n_bits`` drives BOTH the bucket hash and the probe set (dims derive
    from lsh_dims(n_bits), so probes can never XOR a bit the bucket doesn't
    have). ``dim_count`` MUST match the embedding width: probing a
    dimension past the vector's end crashes under ANSI mode (element_at
    out of bounds) instead of bucketing."""
    dims = lsh_dims(n_bits, dim_count)
    with_bucket = embeddings.withColumn("bucket", sign_lsh_bucket(vec_col, dims))
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
    )
    q = (
        with_bucket.filter(F.col(id_col) == query_id)
        .select(_doubled(vec_col).alias("qvec"), F.col("bucket").alias("qbucket"))
        .select("qvec", F.explode(probes).alias("probe"))  # 1+n_bits rows
    )
    scored = (
        with_bucket.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), on=[F.col("bucket") == F.col("probe")])
        .select(
            F.col(id_col),
            F.round(cosine(_doubled(vec_col), F.col("qvec")), 6).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Centroid table -> sorted local (cell, cvec) rows. Bounded by
    construction (k rows); the ONE place the kmeans/IVF family touches the
    driver.

    Totality: rows whose cell or cvec is NULL — or whose cvec carries a
    NULL component (a NULL element in the source embedding survives the
    per-dimension mean as NULL) — are SKIPPED, not crashed on: a filtered-
    to-empty or NULL-poisoned training slice must degrade to "no centroids"
    (downstream: NULL assignment, empty search results), never to a driver
    TypeError that fails the job."""
    return sorted(
        (int(r["cell"]), [float(x) for x in r["cvec"]])
        for r in centroids.collect()
        if r["cell"] is not None
        and r["cvec"] is not None
        and not any(x is None for x in r["cvec"])
    )


def _assign_expr(
    cent_rows: list[tuple[int, list[float]]], vec_col: str,
    vnorm_col: str | None = None,
) -> Column:
    """Nearest-cell assignment expression against INLINED local centroids —
    pure map-side, zero exchange, zero job. Ties break toward the lowest
    cell id (rounded sims, first occurrence of the max), reproducible in
    any engine. ``vec_col`` must name a BOUND array<double> column (a
    projected attribute, not an expression).

    Built as a FLAT k-element F.array of per-centroid sims, NOT as
    transform() over a centroid-array literal: a transform lambda that
    references the vector expression re-evaluates it (and its norm) once
    PER CENTROID — 2k extra O(dim) passes per row, the documented
    higher-order re-evaluation trap. Centroid norms are driver-side
    constants (bit-identical to Spark's aggregate: same left-fold IEEE
    order); pass ``vnorm_col`` to reuse a pre-projected vector norm.

    MUST be evaluated in its own Project (ivf_assign's select) and never
    alongside a generator: expressions selected next to posexplode are
    re-evaluated per GENERATED row, which turned a fused
    select(cell, posexplode(v)) trainer iteration 17x slower than
    projecting the cell first (same-boot probe, 2k x 64 vectors)."""
    import math

    if not cent_rows:
        # zero trained centroids (empty/all-NULL training slice): every
        # vector's assignment is undefined — NULL cell, so cell-equijoins
        # downstream (probe, centroid_sim) produce empty results instead
        # of F.array() failing to type-resolve a zero-element sims array
        return F.lit(None).cast("int")

    v = F.col(vec_col)
    vn = norm(v) if vnorm_col is None else F.col(vnorm_col)
    def _sim(cvec: list[float]) -> Column:
        nc = math.sqrt(sum(x * x for x in cvec))
        if nc == 0.0:
            return F.lit(0.0)  # zero centroid: 0 sim to everything
        d = vn * F.lit(nc)
        # CASE WHEN guard (lazy): ANSI div-by-zero raises even on doubles
        return F.round(
            F.when(d == 0, F.lit(0.0)).otherwise(
                dot(v, F.array(*[F.lit(x) for x in cvec])) / d
            ),
            6,
        )

    sims = F.array(*[_sim(cvec) for _, cvec in cent_rows])
    cell_lits = F.array(*[F.lit(c) for c, _ in cent_rows])
    best_pos = F.array_position(sims, F.array_max(sims))  # 1-based first max
    # NULL vector -> NULL cell, explicitly: with all-NULL sims the
    # max/position chain otherwise lands on the LAST cell (observed), so
    # an un-embeddable row would silently join a real cell's pair set
    return F.when(v.isNull(), F.lit(None).cast("int")).otherwise(
        F.element_at(cell_lits, best_pos.cast("int"))
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine. The centroid table
    is tiny by construction, so it is collected once (pass pre-collected
    (cell, cvec) rows to skip even that job) and inlined as literals —
    assignment is then a pure MAP-SIDE expression (k dot products + first-
    max position), shuffling nothing. The doubled vector and its norm are
    projected ONCE and referenced as bound attributes, so the k-sim block
    reads row fields instead of re-casting/re-norming per centroid. The
    original formulation (crossJoin + per-id argmin window) shuffled the
    entire corpus on id."""
    cent_rows = (
        centroids
        if isinstance(centroids, list)
        else _collect_centroids(centroids)
    )
    base = embeddings.select(
        F.col(id_col).alias("id"),
        _doubled(vec_col).alias("v"),
    ).select("id", "v", norm(F.col("v")).alias("_vn"))
    return base.select(
        "id", "v", _assign_expr(cent_rows, "v", vnorm_col="_vn").alias("cell")
    )


def default_centroids(
    embeddings: DataFrame, k: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF 'training': the first k vectors by id are the
    centroids (IVF-flat with externally supplied centroids; a production
    build would run k-means — the search structure is identical). NULL
    embeddings never seed: a leading NULL row would otherwise poison the
    whole family's driver-side centroid collect."""
    return (
        embeddings.filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).cast("int").alias("cell"), _doubled(vec_col).alias("cvec")
        )
    )


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Batch top-k retrieval: for EVERY query row, the k nearest corpus
    vectors by cosine — the knn-join primitive behind reference-set dedup
    and retrieval over a training corpus.

    Scale shape: the (small) query table broadcasts, scoring is one
    map-side pass producing narrow (q_id, id, sim) rows; top-k is TWO
    phases — per-(q_id, input partition) row_number keeps k rows per
    partition (the one shuffle moves Q x P x k survivors... the shuffle key
    (q_id, partition id) has Q x P cardinality, so no single hot reducer
    even when Q is 1), then a final per-q_id top-k over the tiny survivor
    set. For very large corpora, pre-prune candidates with the LSH bucket
    probe (ann_lsh_topk's pattern) before calling."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(q_id_col).alias("q_id"), _doubled(q_vec_col).alias("qv")
    )
    scored = embeddings.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col("q_id"))
    scored = scored.select(
        "q_id",
        F.col(id_col),
        F.round(cosine(_doubled(vec_col), F.col("qv")), 6).alias("cosine_sim"),
        F.spark_partition_id().alias("_pid"),
    )
    order = [F.col("cosine_sim").desc(), F.col(id_col)]
    w_local = Window.partitionBy("q_id", "_pid").orderBy(*order)
    w_final = Window.partitionBy("q_id").orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .select("q_id", id_col, "cosine_sim")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means for IVF training: seeds are the first k
    vectors by id (reproducible, no RNG), each iteration assigns by cosine
    against INLINED centroid literals (map-side, zero exchange of the big
    side — same plan as ivf_assign) and recomputes centroids as the
    element-wise mean via posexplode + (cell, dim) aggregation.

    Engine-lockstep determinism: assignment sims AND updated centroid
    components round to 6 decimals each iteration, so the DuckDB oracle
    (whose float sums associate differently) follows the identical
    trajectory instead of diverging ulp-by-ulp. Cells that lose all members
    drop out (documented; with first-k seeds on real corpora this is rare).
    Per iteration: one job over the corpus + a k-row collect. At 10^12 docs
    train on a sample — the search structure is unchanged."""
    rows = kmeans_centroids_rows(embeddings, k, iters, id_col, vec_col)
    return embeddings.sparkSession.createDataFrame(
        [(c, v) for c, v in rows], "cell int, cvec array<double>"
    )


def kmeans_centroids_rows(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The trainer's local-rows form: centroids are carried as plain
    driver data between Lloyd iterations (k rows — bounded by
    construction), so each iteration is exactly ONE corpus job (the
    (cell, dim) mean aggregation + k-row collect) with the assignment
    inlined as literals. Downstream consumers (semdedup, ann_ivf_topk)
    fuse assignment + centroid_sim into one map-side projection from
    these rows instead of re-collecting / re-joining a lazy centroid
    plan — the job-count fusion that keeps the fixed per-job scheduling
    overhead flat."""
    rows = _collect_centroids(default_centroids(embeddings, k, id_col, vec_col))
    if not rows:
        # no trainable vectors (empty or all-NULL slice): iterating would
        # just run `iters` empty corpus jobs to rediscover the same fact
        return []
    for _ in range(iters):
        # two-step on purpose: assign in its OWN Project, then explode the
        # projected column — selecting the assignment expression next to
        # posexplode re-evaluates it per generated row (64x per vector)
        assigned = ivf_assign(embeddings, rows, id_col, vec_col)
        cents = (
            assigned.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )
        rows = _collect_centroids(cents)
    return rows


def ann_ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    train_iters: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: score only vectors in the query's cell.
    At 10^9 vectors the probed cell is ~1/n_cells of the corpus and the
    assignment is a broadcast map-side pass — no shuffle of the big side
    except the per-id argmin window (which a production build avoids by
    computing argmin with aggregate expressions). Centroids default to the
    deterministic k-means trainer (kmeans_centroids); pass ``centroids``
    to search an externally-trained structure, or ``train_iters=0`` for
    the raw first-k-seeds layout."""
    cent_rows = (
        _collect_centroids(centroids)
        if centroids is not None
        else kmeans_centroids_rows(
            embeddings, n_cells, train_iters, id_col, vec_col
        )
    )
    assigned = ivf_assign(embeddings, cent_rows, id_col, vec_col)
    q = assigned.filter(F.col("id") == query_id).select(
        F.col("v").alias("qvec"), F.col("cell").alias("qcell")
    )
    return (
        assigned.filter(F.col("id") != query_id)
        .join(F.broadcast(q), on=[F.col("cell") == F.col("qcell")])
        .select(
            F.col("id").alias(id_col),
            F.round(cosine(F.col("v"), F.col("qvec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication over an
    embedding column — k-means clusters the corpus, pairwise cosine runs
    only WITHIN each cluster, near-duplicate groups form by transitive
    closure, and each group keeps the member FARTHEST from its cluster
    centroid (the paper's diversity-preserving survivor rule; ties break
    to the lowest id). Returns one row per input vector, total:
    (id, cell, centroid_sim, group_rep, keep) — singletons keep
    themselves, group_rep is the component's min id.

    Pure composition of audited pieces: deterministic k-means trainer
    (kmeans_centroids — train on a sample at 10^12), map-side cell
    assignment against inlined centroid literals (ivf_assign — zero
    exchange of the corpus), group-and-pair-explode candidates on the
    narrow (id, cell) table (dedup._cooccurrence_member_pairs — singleton
    cells die at the first agg, ``max_cell`` caps degenerate cells), and
    large-star/small-star connected components (graph.connected_components
    — no per-group window, no neighborhood collect). Within-cell cosine is
    all-pairs BY DESIGN (the paper's definition), so size ``n_cells`` with
    the corpus: cells of ~10^4-10^5 vectors keep the quadratic term
    bounded; the cell count is the same knob as pairwise_near_duplicates'
    ``n_bits``. Rounded sims (6dp) keep the DuckDB oracle in lockstep."""
    from .dedup import _cooccurrence_member_pairs
    from ..materialize import cut
    from .graph import connected_components

    cent_rows = (
        _collect_centroids(centroids)
        if centroids is not None
        else kmeans_centroids_rows(
            embeddings, n_cells, train_iters, id_col, vec_col
        )
    )
    # the centroid table joined back for centroid_sim is rebuilt from the
    # LOCAL rows (a k-row createDataFrame), so neither the assignment nor
    # the broadcast re-executes the trainer plan — the job-count fusion
    # this query needed. (Computing centroid_sim as a second inlined
    # expression instead would double-evaluate the k-cosine sims block per
    # row; the k-row broadcast join costs one cosine.)
    cents_local = embeddings.sparkSession.createDataFrame(
        cent_rows, "cell int, cvec array<double>"
    )
    a = ivf_assign(embeddings, cent_rows, id_col, vec_col).join(
        F.broadcast(cents_local), "cell"
    ).select(
        "id", "v", "cell",
        F.round(cosine(F.col("v"), F.col("cvec")), 6).alias("centroid_sim"),
    )
    # the assigned table feeds FOUR consumers (candidate gen, two vector
    # join-backs, the totalization); without a cut each one re-runs the
    # scan + assignment
    a = cut(a)
    cand = _cooccurrence_member_pairs(
        a.select("id", "cell"), "cell", F.col("id"), max_group=max_cell
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    vecs = a.select("id", "v")
    edges = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .filter(F.round(cosine(F.col("v_a"), F.col("v_b")), 6) >= threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(edges, "id_a", "id_b")
    tot = a.join(labels, "id", "left").select(
        "id", "cell", "centroid_sim",
        F.coalesce("rep", F.col("id")).alias("group_rep"),
    )
    survivors = tot.groupBy("group_rep").agg(
        F.min(F.struct("centroid_sim", "id")).alias("_keep")
    )
    return tot.join(survivors, "group_rep").select(
        "id",
        F.col("cell").cast("bigint").alias("cell"),
        "centroid_sim",
        "group_rep",
        (F.col("id") == F.col("_keep.id")).alias("keep"),
    )


def pairwise_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    max_bucket: int | None = None,
    dim_count: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (scale path for
    embedding dedup). ``dim_count`` MUST match the embedding width (ANSI
    element_at crashes past the vector's end).

    Candidates come from group-and-pair-explode over the bucket key
    (dedup._cooccurrence_member_pairs) on a NARROW (id, bucket) table — the
    same machinery as minhash_lsh_pairs, NOT a bucket self-join: singleton
    buckets die at the first aggregation, per-output-row allocation is
    O(group), and ``max_bucket`` caps degenerate buckets (an all-zeros
    embedding cluster). Vectors join back once per surviving candidate.

    Size ``n_bits`` with the corpus: bits ≈ log2(n) - log2(target bucket
    size). The fixed-256-bucket default is for small/oracle runs; at 10^9
    vectors use ~30 bits so expected bucket occupancy stays ~constant
    (a fixed-width bucket table degenerates to all-pairs as n grows)."""
    from .dedup import _cooccurrence_member_pairs

    b = embeddings.select(
        F.col(id_col).alias("id"),
        _doubled(vec_col).alias("v"),
        sign_lsh_bucket(vec_col, lsh_dims(n_bits, dim_count)).alias("bucket"),
    )
    # each vector lands in exactly one bucket -> pairs are already unique
    cand = _cooccurrence_member_pairs(
        b.select("id", "bucket"), "bucket", F.col("id"), max_group=max_bucket
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    vecs = b.select("id", "v")
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
