"""Grid-partitioned exact DBSCAN (Ester et al. 1996; distributed via
the MR-DBSCAN cell-blocking idea — both public).

Density clustering for LOW-dimensional spaces (2-4 dims: PCA/JL
projections, geo coordinates, t-SNE-style layouts). In high dimensions
ε-balls are meaningless and the 3^d neighbor-cell fan-out explodes, so
the operator refuses d > 4 rather than silently going quadratic —
cluster raw embeddings with k-means (q85) or SemDeDup (q86) instead.

Exactness with NO n² stage: a pair within distance ε must lie in the
same or ADJACENT ε-sided grid cells (per-axis |Δ| ≤ ε ⇒ cell index Δ
∈ {-1,0,1}), so
  1. each point computes its cell (pure map),
  2. the LEFT side replicates each point to its 3^d neighbor cells
     (explode of a literal offset array — ×3^d, the blocking cost),
  3. one equi-join on cell + exact distance filter yields every
     ε-pair exactly once per direction — candidates are cell-local,
     never all-pairs,
  4. core points: |N_ε(p)| ≥ min_pts (self-inclusive, the standard
     convention),
  5. clusters: connected components over core↔core ε-edges
     (operators/graph.connected_components — pointer jumping,
     cluster id = min member id, deterministic),
  6. border points attach to the MINIMUM cluster id among core
     neighbors (plain DBSCAN says "any"; min is pinned so output is
     partition-order independent), noise = -1.

Distances in float64 with a 9-digit round before the ε comparison so
the accept/reject decision is accumulation-order stable (the same
discipline as cosine_topk).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dbscan", "dense_cell_clusters", "eps_pairs", "DEFAULT_MAX_CANDIDATE_PAIRS"]

# Default candidate budget for the density-saturation guard — the same
# default-on posture (and the same 10^8 figure) as the exact n-gram
# Jaccard tier's `max_candidates` (operators/dedup.py): past ~1e8
# cell-local candidates the ε-space has saturated (mean occupancy >> 1)
# and the quadratic-in-density regime the r9 sf10 campaign measured
# (ε-graph ×99.2 per decade) has begun — fail fast naming the
# density-independent tiers instead of melting the cluster. Measured
# headroom on the real corpora (r10): sf0.1 ≈ 1.4e5 candidates,
# sf1 ≈ 1.4e7, sf10 (post-knee, saturated) ≈ 1.4e9 → fires by design.
# Pass None to override.
DEFAULT_MAX_CANDIDATE_PAIRS = 100_000_000


def _sq_dist(a, b):
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )


def eps_pairs(
    left: DataFrame,
    right: DataFrame,
    eps: float,
    dims: int,
    vec_col: str = "vec",
    id_col: str = "vec_id",
    max_candidate_pairs: int | None = DEFAULT_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Exact ε-pairs (a_id from ``left``, b_id from ``right``) via the
    ε-sided grid-cell blocking in the module docstring: the left side
    replicates each point to its 3^dims neighbor cells (pure map +
    literal-array explode), the right side stays home, and ONE equi-join
    on cell plus the exact distance filter yields every pair with
    dist ≤ ε — candidates are cell-local, never all-pairs. Self-pairs
    (a_id == b_id when left and right overlap) are NOT filtered; callers
    decide. ``dims`` is explicit so an EMPTY left side is fine (yields
    an empty pair set, no ``first()`` probe).

    ``max_candidate_pairs`` (opt-in in r9, DEFAULT-ON since r10 —
    mirroring q22's default-on ``max_candidates``) is the
    density-saturation guard: cell-local blocking bounds candidates by
    Σ_cell probe(cell)·home(cell), which is LINEAR in points only while
    mean ε-cell occupancy stays O(1) — the r9 sf10 measurement showed
    the ε-graph growing 99.2× for 10× points once a saturating space
    crosses that knee (SCALING.md wave 3). The estimate is computed at
    CELL granularity (two tiny count tables joined on cell — exact for
    the candidate join below) and kept lazy as a broadcast scalar
    gating the distance filter (the q22 pattern): no plan-time job,
    and past the budget the join dies in its first task naming the
    density-independent alternatives instead of melting the cluster.
    Pass ``None`` to run unguarded."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if dims > 4:
        raise ValueError(
            f"eps_pairs is a low-dimensional blocking join (got dims={dims} "
            f"> 4): the 3^d cell fan-out explodes — project first"
        )
    cell = F.array(
        *[
            F.floor(F.col("v")[i] / F.lit(float(eps))).cast("long")
            for i in range(dims)
        ]
    )

    def _home(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("pid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ).select("pid", "v", cell.alias("cell"))

    offsets = [list(o) for o in itertools.product((-1, 0, 1), repeat=dims)]
    off_lit = F.array(*[F.array(*[F.lit(x) for x in o]) for o in offsets])
    probe = _home(left).select(
        F.col("pid").alias("a_id"),
        F.col("v").alias("a_v"),
        F.explode(
            F.transform(off_lit, lambda o: F.zip_with("cell", o, lambda c, x: c + x))
        ).alias("cell"),
    )
    cand = probe.join(
        _home(right).select(
            F.col("pid").alias("b_id"), F.col("v").alias("b_v"), "cell"
        ),
        "cell",
    )
    guard = None
    if max_candidate_pairs is not None:
        lc = _home(left).groupBy("cell").agg(F.count(F.lit(1)).alias("c_l"))
        probe_cells = lc.select(
            F.explode(
                F.transform(
                    off_lit, lambda o: F.zip_with("cell", o, lambda c, x: c + x)
                )
            ).alias("cell"),
            "c_l",
        )
        rc = _home(right).groupBy("cell").agg(F.count(F.lit(1)).alias("c_r"))
        # double product sum: exact bigints could overflow in exactly
        # the blow-up being guarded
        est = probe_cells.join(rc, "cell").agg(
            F.coalesce(
                F.sum(F.col("c_l").cast("double") * F.col("c_r")), F.lit(0.0)
            ).alias("__est_cand")
        )
        cand = cand.crossJoin(F.broadcast(est))
        guard = F.when(
            F.col("__est_cand") <= F.lit(float(max_candidate_pairs)),
            F.lit(True),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("eps_pairs: grid cells imply ~"),
                    F.col("__est_cand").cast("bigint").cast("string"),
                    F.lit(
                        " candidate pairs (> max_candidate_pairs="
                        f"{max_candidate_pairs}); the space has "
                        "saturated (mean eps-cell occupancy >> 1) and "
                        "the eps-graph is growing quadratically in "
                        "density — shrink eps / raise min_pts, or use "
                        "the density-independent tiers "
                        "(kmeans_clusters / semantic_dedup); pass "
                        "max_candidate_pairs=None to override"
                    ),
                )
            )
        )
    pred = _sq_dist(F.col("a_v"), F.col("b_v")) <= F.lit(float(eps) ** 2)
    if guard is not None:
        # the unguarded (None) path omits the conjunct entirely rather
        # than adding `AND true`, so opting out restores the exact
        # pre-guard plan shape. Guard FIRST: And evaluates left-to-
        # right, so an over-budget join dies on its first candidate row
        # (one broadcast-scalar comparison) before any distance work —
        # and the guard fires even when that row would fail the
        # distance test.
        pred = guard & pred
    return cand.filter(pred).select("a_id", "b_id")


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int,
    vec_col: str = "vec",
    id_col: str = "vec_id",
    dims: int | None = None,
) -> DataFrame:
    """(id_col, cluster bigint, is_core boolean) for every input row;
    noise rows carry cluster = -1. See module docstring for the
    algorithm and determinism contract.

    The internal ``eps_pairs`` stage runs with its default 10^8
    ``max_candidate_pairs`` fence: a saturated ε-space (mean cell
    occupancy >> 1 — the regime where the ε-graph grows quadratically
    in density, measured ×99.2/decade at sf10) dies in the pair join's
    first task naming the density-independent tiers, instead of
    melting the cluster.

    Dimensionality contract (raises ValueError for dims > 4, new in
    r7 when the pair stage moved to ``eps_pairs``): the 3^d grid-cell
    fan-out AND the statistical emptiness of high-dimensional eps-balls
    make grid DBSCAN the wrong tool past ~4 dims — project first
    (``pca_project`` / ``jl_project``) or cluster with
    ``kmeans`` / ``semantic_dedup``. Callers who relied on the old
    (silently quadratic-ish) high-d behavior must project; the loud
    error replaces a plan that was never going to survive scale."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    if dims is not None:
        # caller knows the dimensionality statically (e.g. after a
        # k=2 projection): no plan-time Spark job — catalog
        # enumeration and explain stay free (the q22 lazy-guard rule)
        d = dims
    else:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("dbscan: empty input")
        d = first["d"]
    if d > 4:
        raise ValueError(
            f"dbscan is a low-dimensional operator (got d={d} > 4): the "
            f"3^d cell fan-out and the emptiness of high-d eps-balls make "
            f"it the wrong tool — project first (pca_project/jl_project) "
            f"or cluster with kmeans/semantic_dedup"
        )
    pts = df.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    pairs = eps_pairs(
        pts,
        pts,
        eps,
        d,
        vec_col="v",
        id_col="pid",
    )
    # |N_eps(p)| is self-inclusive: the a==b pair falls out of the join
    counts = pairs.groupBy("a_id").agg(F.count(F.lit(1)).alias("n_nb"))
    core = counts.filter(F.col("n_nb") >= min_pts).select(
        F.col("a_id").alias("pid")
    )
    core_edges = (
        pairs.join(core.withColumnRenamed("pid", "a_id"), "a_id")
        .join(core.withColumnRenamed("pid", "b_id"), "b_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b"))
    )
    from sales_data_pipeline_spark.operators.graph import connected_components

    comp = connected_components(core_edges)  # (node, cluster)
    # isolated cores (no core neighbor) form singleton clusters of
    # their own id; CC only returns nodes that appear in an edge
    core_clusters = (
        core.join(comp.withColumnRenamed("node", "pid"), "pid", "left")
        .select("pid", F.coalesce("cluster", F.col("pid")).alias("cluster"))
    )
    # border points: non-core with >= 1 core eps-neighbor -> min cluster
    border = (
        pairs.join(core_clusters.withColumnRenamed("pid", "b_id"), "b_id")
        .join(core.withColumnRenamed("pid", "a_id"), "a_id", "left_anti")
        .groupBy("a_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a_id").alias("pid"), "cluster")
    )
    assigned = core_clusters.unionByName(border)
    return (
        pts.select("pid")
        .join(assigned, "pid", "left")
        .join(core.withColumn("__c", F.lit(True)), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.coalesce("cluster", F.lit(-1)).cast("bigint").alias("cluster"),
            F.coalesce("__c", F.lit(False)).alias("is_core"),
        )
    )


def dense_cell_clusters(
    df: DataFrame,
    eps: float,
    min_pts: int = 4,
    vec_col: str = "vec",
    dims: int = 2,
) -> DataFrame:
    """Cell-granularity density cluster CENSUS that stays serveable on
    the saturated corpora the exact point tier refuses — the r11
    DBSCAN analogue of q294's sampled-triangle serve-past-the-fence
    move (and the grid-based arm of the classic DBSCAN speedups:
    GriDBSCAN/Viger-style cell coarsening, all public).

    Exact DBSCAN's cost driver is the cell-LOCAL candidate join,
    quadratic in ε-cell occupancy — exactly why `eps_pairs`/`dbscan`
    carry the default-on `max_candidate_pairs` fence (the sf10 corpus
    saturates at ~1.4×10⁹ candidates and is refused by design). This
    operator never forms a point pair: points map to ε-sided cells
    (one linear groupBy), cells with ≥ ``min_pts`` points are DENSE,
    and clusters are connected components of the dense-cell ADJACENCY
    graph (Chebyshev distance 1 — an 8-offset equi-join, linear in
    dense cells). Density saturation makes this CHEAPER (more points
    per cell = fewer cells), the exact complement of the point tier's
    failure mode; occupancy growth can never melt it.

    Semantics (cell-granularity approximation, stated precisely —
    the guarantee is TWO-SIDED, r12 ADVICE fix): density is counted
    per single ε-sided cell, so a DBSCAN core point whose min_pts
    ε-neighbors straddle adjacent cells can sit in a NON-dense cell;
    a DBSCAN chain through such cells may therefore SPLIT one DBSCAN
    cluster across cell clusters (under-merge), while the 1-cell halo
    can also MERGE clusters up to 2√2·ε apart (over-merge). What does
    hold exactly: two points in the same or adjacent dense cells are
    within 2√2·ε (d=2), and any ε-link between points of DENSE cells
    lands in one cell cluster. Treat the census as a cell-resolution
    density summary, not as a bound on the DBSCAN cluster count in
    either direction.
    The census this emits (cluster count, largest cluster mass,
    clustered-point total) is the q280 signal a curation pipeline
    actually consumes, at cell resolution.

    Determinism & oracle-ability: cell = floor(coord/eps) per axis —
    pure map, no RNG, no iteration order — and the adjacency CC uses
    the min-id convention, so an external SQL engine reproduces every
    output number bitwise (q295's DuckDB oracle runs this whole
    pipeline, recursive-CTE CC included).

    Output (one row): n_points, n_dense_cells, n_cell_clusters,
    largest_cluster_cells, largest_cluster_points, clustered_points
    (all bigint).

    ``dims`` must be 2 for now (the q280/q283 projection space); the
    pattern generalizes with 3^d-1 offsets and a struct cell key, but
    2-d covers every registered consumer and keeps the cell id a plain
    bigint both here and in SQL."""
    if dims != 2:
        raise ValueError(
            f"dense_cell_clusters: dims={dims} unsupported — the cell "
            "census is registered for 2-d projections (q280's space); "
            "extend the offset table and cell-id encoding for d>2"
        )
    v = F.col(vec_col)
    cells = (
        df.select(
            F.floor(v[0] / F.lit(float(eps))).alias("cx"),
            F.floor(v[1] / F.lit(float(eps))).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_points = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    # collision-free bigint cell id (|cx|,|cy| < 2^31 — coordinates are
    # bounded projections; 2^32 stride keeps (cx, cy) injective)
    cell_id = (F.col("cx") * F.lit(4294967296) + F.col("cy")).alias("cell_id")
    dense = cells.filter(F.col("n") >= min_pts).select(
        "cx", "cy", "n", cell_id
    )
    from sales_data_pipeline_spark.operators.dedup import _persist

    # feeds 8 probe sides + the join build side + the label pass;
    # registered in dedup's cache registry so release_caches() frees it
    dense = _persist(dense)
    # one explode over the 8 neighbor offsets (r12), not an 8-branch
    # union: the union re-scanned the cached dense table once per
    # offset (8 scan stages); the explode emits the same probe rows in
    # a single pass
    probe = dense.select(
        F.col("cell_id").alias("cell_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("jx"),
                        (F.col("cy") + F.lit(dy)).alias("jy"),
                    )
                    for dx, dy in itertools.product((-1, 0, 1), repeat=2)
                    if (dx, dy) != (0, 0)
                ]
            )
        ).alias("__o"),
    ).select("cell_a", "__o.jx", "__o.jy")
    edges = (
        probe.join(
            dense.select(
                F.col("cell_id").alias("cell_b"),
                F.col("cx").alias("jx"),
                F.col("cy").alias("jy"),
            ),
            ["jx", "jy"],
        )
        .filter(F.col("cell_a") < F.col("cell_b"))
        .select("cell_a", "cell_b")
    )
    from sales_data_pipeline_spark.operators.graph import connected_components

    comp = connected_components(edges, src="cell_a", dst="cell_b")
    labeled = dense.join(
        comp.withColumnRenamed("node", "cell_id"), "cell_id", "left"
    ).select(
        F.coalesce("cluster", F.col("cell_id")).alias("cluster"), "n"
    )
    per_cluster = labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("ncells"), F.sum("n").alias("pts")
    )
    census = per_cluster.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cell_clusters"),
        F.coalesce(F.max("ncells"), F.lit(0))
        .cast("bigint")
        .alias("largest_cluster_cells"),
        F.coalesce(F.max("pts"), F.lit(0))
        .cast("bigint")
        .alias("largest_cluster_points"),
        F.coalesce(F.sum("pts"), F.lit(0))
        .cast("bigint")
        .alias("clustered_points"),
    )
    n_dense = dense.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dense_cells")
    )
    return (
        n_points.crossJoin(F.broadcast(n_dense))
        .crossJoin(F.broadcast(census))
        .select(
            "n_points",
            "n_dense_cells",
            "n_cell_clusters",
            "largest_cluster_cells",
            "largest_cluster_points",
            "clustered_points",
        )
    )
