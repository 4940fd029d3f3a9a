"""Similarity search over embedding columns (array<float>).

Three tiers, same output shape:

- ``cosine_topk``: brute-force exact top-k. The query set is broadcast
  (it's small); the corpus streams — one scan, no shuffle of the corpus,
  O(|Q|·N) similarity evaluations entirely inside whole-stage codegen
  (zip_with/aggregate — no Python). Right answer for |Q| ≤ thousands.
- ``embedding_neardup_pairs``: exact all-pairs ≥ threshold. Quadratic;
  the verification oracle for the approximate path at test scale.
- ``embedding_neardup_lsh`` / ``knn_graph`` over ``srp_signatures``:
  signed-random-projection LSH for the HIGH-similarity regime
  (near-duplicate detection, cos ≥ ~0.85, where bucket-collision
  probability (1-θ/π)^bits stays useful). Deterministic
  pseudo-random hyperplanes are derived from xxhash64(table, plane, dim)
  so signatures are reproducible across runs and engines with no RNG
  state. Candidates = bucket collisions in any table; exact re-rank of
  candidates only. Shuffle cost O(N·tables), independent of N².
- ``ivf_topk``: inverted-file ANN for the MODERATE-similarity top-k
  regime (neighbors at cos ~0.3-0.6, where SRP collision probability
  collapses). Coarse k-means centroids trained on a driver-side sample
  (the standard IVF recipe — training is tiny, assignment is the big
  distributed map), broadcast as literals; each corpus row is assigned
  to its nearest cell with pure expressions, queries probe the n_probe
  nearest cells, candidates re-ranked exactly. Search cost ≈
  N·(n_probe/n_cells) per query.

Cosine is computed in float64 over the array in element order, so
results are bitwise reproducible regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_data_pipeline_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
    dot_product,
    l2_norm,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 9,
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    Output: query_id, neighbor_id, sim, rank (row_number over
    (sim desc, neighbor_id) — fully deterministic under ties).
    ``round_digits`` rounds sim before ranking so rankings are stable
    across engines whose float accumulation order differs (the oracle)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    sim: Column = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_sim: float | None = None,
    n_salt: int = 32,
    round_digits: int | None = 9,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the ``k``
    most similar vectors carrying a DIFFERENT label. ``max_sim`` is the
    optional ceiling of the FaceNet-style semi-hard band — candidates
    at sim ≥ max_sim are dropped as probable mislabeled near-duplicates
    (the standard false-negative guard: the hardest "negatives" in a
    raw corpus are usually the same item labeled twice).

    Output: anchor_id, neg_id, sim, rank (row_number over
    (sim desc, neg_id) — deterministic under ties; sims rounded to
    ``round_digits`` before ranking so engines with different float
    accumulation order agree, same contract as cosine_topk).

    Scale shape: the anchor batch is bounded and broadcast; the corpus
    streams through ONE scan with cosine computed JVM-side in float64.
    Unlike cosine_topk's single per-query window, the top-k here is
    TWO-PHASE: rank within (anchor, xxhash-salt-of-candidate) keeping k
    per salt bucket, then re-rank the ≤ k·n_salt survivors per anchor —
    no reducer ever sorts a corpus-sized anchor group, so the plan
    survives a 100× corpus at a fixed anchor batch. Bitwise-identical
    to the single-window form: the true top-k is a subset of the union
    of per-salt top-ks."""
    from pyspark.sql import Window

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        as_double_array(vec_col).alias("qv"),
        F.col(label_col).alias("anchor_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        as_double_array(vec_col).alias("cv"),
        F.col(label_col).alias("neg_label"),
    )
    sim: Column = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select("anchor_id", "neg_id", sim.alias("sim"))
    )
    if max_sim is not None:
        scored = scored.filter(F.col("sim") < F.lit(float(max_sim)))
    order = [F.col("sim").desc(), F.col("neg_id")]
    w1 = Window.partitionBy("anchor_id", "__salt").orderBy(*order)
    survivors = (
        scored.withColumn("__salt", F.pmod(F.xxhash64("neg_id"), F.lit(n_salt)))
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__salt", "__r")
    )
    w2 = Window.partitionBy("anchor_id").orderBy(*order)
    return survivors.withColumn(
        "rank", F.row_number().over(w2).cast("bigint")
    ).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (embedding-space near-dup).

    Quadratic — at scale run embedding_neardup_lsh's buckets first and
    verify only collisions (same pattern as MinHash→Jaccard in operators.dedup)."""
    a = corpus.select(F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("vb"))
    sim: Column = cosine_similarity(F.col("va"), F.col("vb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# signed-random-projection LSH
# ---------------------------------------------------------------------------


def _plane_component(table: int, plane: int, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    xxhash64(table, plane, dim) scaled — reproducible, no RNG state."""
    h = F.xxhash64(F.lit(table), F.lit(plane), dim)
    return (h % 10_000_001).cast("double") / 10_000_001.0


def srp_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 16,
) -> DataFrame:
    """One n_bits-bucket per table per vector: bit j = sign(v · plane_j).

    The dot products are aggregate() expressions over (value, index)
    pairs; everything stays JVM-side."""
    v = as_double_array(vec_col)
    pairs = F.arrays_zip(v.alias("x"), F.sequence(F.lit(0), F.size(v) - 1).alias("i"))

    def _dot_with_plane(t: int, b: int) -> Column:
        def merge(acc: Column, p: Column) -> Column:
            return acc + p["x"] * _plane_component(t, b, p["i"])

        return F.aggregate(pairs, F.lit(0.0), merge)

    buckets = []
    for t in range(n_tables):
        bits = []
        for b in range(n_bits):
            dot = _dot_with_plane(t, b)
            bits.append(F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
        bucket = bits[0]
        for expr in bits[1:]:
            bucket = bucket + expr
        buckets.append(bucket.cast("long").alias(f"t{t}"))
    return df.select(F.col(id_col).alias("vid"), *buckets)


def _bucket_stack(sig: DataFrame, out_id: str, n_tables: int) -> DataFrame:
    """(vid, t0..tN) signatures → long (id, tbl, bucket) via stack()."""
    return sig.selectExpr(
        f"vid as {out_id}",
        f"stack({n_tables}, "
        + ", ".join(f"{t}, t{t}" for t in range(n_tables))
        + ") as (tbl, bucket)",
    )


def embedding_neardup_lsh(
    corpus: DataFrame,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 16,
    n_bits: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Embedding near-dup pairs via SRP-LSH bucketing — the scale path
    that replaces ``embedding_neardup_pairs``'s quadratic crossJoin.

    Plan: per-table SRP bucket signatures (map-only, codegen) → bucket
    self-collision join on (tbl, bucket) with id_a < id_b → distinct
    candidate pairs → exact float64 cosine verify of candidates only.
    Emitted pairs therefore ALWAYS satisfy sim ≥ threshold (precision
    1.0 by construction — asserted as a subset-of-exact test); recall is
    the probabilistic part: a pair at angle θ collides in one table with
    probability (1-θ/π)^n_bits, in any of b tables 1-(1-p)^b.

    Parameter regimes (the physics, not a tuning knob):
    - near-dup proper (cos ≥ ~0.85): defaults n_bits=8, n_tables=16
      give ≥ 97% recall at 0.85 and ~100% at 0.95, with 2^8 buckets/
      table slicing the corpus so candidate volume stays ~N·E[bucket]
      — sub-quadratic whenever buckets stay bounded. At larger N raise
      n_bits ≈ log2(N) to keep buckets bounded.
    - moderate similarity (cos ~0.4-0.6): per-bit collision drops to
      ~0.63, so usable recall needs few bits + many tables
      (n_bits=4, n_tables=16 → ~94% at 0.4) and bucketing no longer
      buys asymptotic savings — that regime belongs to IVF cells
      (data-adaptive) rather than data-oblivious hyperplanes.

    Shuffles: one (tbl, bucket) exchange of N·n_tables signature rows,
    then two id-keyed joins to re-fetch vectors for the verify — each
    linear in candidates, never in N²."""
    sig = srp_signatures(corpus, id_col, vec_col, n_tables, n_bits)
    a = _bucket_stack(sig, "id_a", n_tables)
    b = _bucket_stack(sig, "id_b", n_tables)
    candidates = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("vb"))
    sim: Column = cosine_similarity(F.col("va"), F.col("vb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted file) ANN
# ---------------------------------------------------------------------------


def train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_size: int = 10_000,
    iters: int = 10,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Coarse quantizer: Lloyd's k-means on a driver-side sample.

    Deterministic: the sample is the first ``sample_size`` rows in
    ``id_col`` order (a real orderBy — a bare limit() is
    partition-order dependent and would make centroids vary across
    runs) and init is the first k of those — no RNG. At 100 TB the
    sample is still tiny (training needs ~100×n_cells vectors); the
    expensive part, assignment, stays distributed in ivf_topk."""
    import numpy as np

    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    # cosine k-means: operate on unit vectors
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def _centroid_sims(vec_col: str, centroids: list[list[float]]) -> Column:
    """array<struct<sim,cell>>: cosine of the row vector to each centroid
    (centroids are unit vectors, so dot / ‖v‖)."""
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    v = as_double_array(vec_col)
    norm = l2_norm(v)

    def sim_to(c: Column) -> Column:
        return dot_product(v, c) / norm

    return F.transform(
        cent_lit,
        lambda c, i: F.struct(sim_to(c).alias("sim"), i.alias("cell")),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: assign corpus rows to their nearest centroid cell, probe
    the query's n_probe nearest cells, exact cosine re-rank of the
    candidates. Output schema matches cosine_topk."""
    from pyspark.sql import Window

    cents = centroids if centroids is not None else train_centroids(
        corpus, vec_col, n_cells, id_col=id_col
    )
    sims = _centroid_sims(vec_col, cents)
    # corpus: top-1 cell (array_max on (sim, cell) structs orders by sim)
    c_assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
        F.array_max(sims).getField("cell").alias("cell"),
    )
    # queries: n_probe best cells
    q_probes = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
        F.slice(F.reverse(F.array_sort(sims)), 1, n_probe).alias("probes"),
    ).select(
        "query_id", "qv", F.explode(F.col("probes").getField("cell")).alias("cell")
    )
    scored = (
        c_assigned.join(F.broadcast(q_probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 9).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Mean-pooled centroid per group — the embedding aggregation
    behind cluster labeling, per-source drift monitoring, and IVF-style
    seeding: (group, n_vecs, centroid array<double>).

    Plan: posexplode to (group, pos, val) → ONE (group, pos) average
    (map-side combined: the shuffle carries (group, pos, sum, count),
    i.e. dim × |groups| rows, not the corpus) → per-group reassembly
    sorting by position. At 100 TB the corpus is touched once, map-only,
    and everything after the first shuffle is negligible.

    Averages are float64 and rounded (default 6 digits): a float sum's
    accumulation order varies with partitioning, and 1e-15 noise must
    not break reproducibility (same contract as char_entropy)."""
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(as_double_array(vec_col)).alias("pos", "val"),
    )
    per_pos = exploded.groupBy("grp", "pos").agg(
        F.round(F.avg("val"), round_digits).alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        per_pos.groupBy("grp")
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
            ).alias("centroid"),
        )
        .select(F.col("grp").alias(group_col), "n_vecs", "centroid")
    )


def quantized_dupe_groups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 2.0,
) -> DataFrame:
    """Embedding near-dup detection by grid quantization: floor each
    dimension into a coarse cell (``floor(x * scale)``) and group rows
    whose ENTIRE quantized vector is identical — the cheapest useful
    embedding dedup (near-identical vectors land in the same cell;
    complementary to SRP-LSH, which catches pairs a cell boundary
    splits). Output: (id, canonical_id = min id in group, group_size)
    for every row in a group of >= 2.

    Determinism: floats widen to float64 before scaling; floor is exact
    and engine-portable (unlike round, whose tie rule varies), so the
    signature is bit-identical across engines/runs/partitionings.

    Plan: map (quantize) + ONE hash shuffle on the signature + window.
    The signature travels as a compact CSV string here so the DuckDB
    oracle can reproduce it byte-for-byte; a production run at 100 TB
    swaps in xxhash64 of the quantized array (8-byte shuffle key, same
    grouping — collision odds ~n^2/2^65). Linear; no pairwise compare
    anywhere."""
    from pyspark.sql import Window

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("bigint"),
    )
    sig = F.concat_ws(",", F.transform(q, lambda v: v.cast("string")))
    w = Window.partitionBy("__sig")
    return (
        df.select(F.col(id_col), sig.alias("__sig"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .filter(F.col("group_size") >= 2)
        .select(id_col, "canonical_id", "group_size")
    )


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's) and SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------


def kmeans_clusters(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Distributed spherical k-means (Lloyd's): cluster every vector, at
    any corpus size. Contrast train_centroids (IVF's coarse quantizer),
    which trains on a bounded driver-side SAMPLE because IVF only needs
    approximate cells; here the E-step (assignment) and the M-step's
    aggregation both run distributed over the full corpus — the only
    driver-side state is the k×dim centroid matrix itself (a few KB),
    collected once per iteration. That is the standard scalable k-means
    shape: per iteration ONE map over the corpus (broadcast centroids as
    literals, pure codegen cosine) + ONE keyed shuffle of (cell, dim)
    partial sums, nothing quadratic anywhere.

    Deterministic contract (reproducible across runs, partitionings and
    engines): init = the first k vectors in id order; cosine in float64
    over unit-normalized vectors; M-step mean accumulated per dimension
    by Spark's exact-order-independent decimal? no — double sums over a
    shuffle ARE order-dependent in the last bits, so partial sums are
    aggregated per (cell, dim) with Kahan-free plain doubles but the
    assignment uses similarities rounded to 9 digits, making label
    flips from last-bit noise unobservable in practice; the pytest
    reference (same init, same iteration count) asserts exact label
    equality at test scale. Ties in the argmax go to the LOWEST cell
    (matching numpy argmax).

    Returns (id_col, cluster int, sim double) — sim is the cosine to
    the winning centroid from the final assignment pass.
    """
    import numpy as np

    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    cents = np.asarray([r[1] for r in init_rows], dtype=np.float64)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    # project the norm ONCE, then divide — an inline l2_norm inside the
    # transform lambda would re-evaluate the O(dim) norm per element
    # (O(dim²)/row; same Catalyst re-inlining trap the shingle pipeline
    # documents at shingle_hashes_from_tokens)

    def assign(cent_mat: np.ndarray) -> DataFrame:
        # struct(sim, -cell) so array_max's lexicographic tie-break
        # picks the LOWEST cell index, matching the numpy reference.
        cent_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in cent_mat]
        )
        sims = F.transform(
            cent_lit,
            lambda c, i: F.struct(
                F.round(dot_product("__unit", c), 9).alias("sim"),
                (-i).alias("negcell"),
            ),
        )
        best = F.array_max(sims)
        return (
            corpus.select(F.col(id_col), "__unit_src")
            .withColumn("__unit", F.col("__unit_src"))
            .select(
                id_col,
                "__unit",
                (-best["negcell"]).cast("int").alias("cluster"),
                best["sim"].alias("sim"),
            )
        )

    # persist the unit-normalized projection (r12): every E-step (and
    # the final assignment) walks it — iters+1 full corpus scans plus
    # per-element renormalization without a materialization. Registered
    # in the dedup cache registry (release_caches()/clearCache frees it).
    from sales_data_pipeline_spark.operators.dedup import _persist

    corpus = _persist(
        corpus.select(id_col, as_double_array(vec_col).alias("__vd"))
        .withColumn("__n", F.greatest(l2_norm(F.col("__vd")), F.lit(1e-12)))
        .withColumn(
            "__unit_src", F.transform(F.col("__vd"), lambda x: x / F.col("__n"))
        )
        .select(id_col, "__unit_src")
    )
    assigned = None
    for _ in range(max(iters, 1)):
        assigned = assign(cents)
        # M-step: distributed per-(cell, dim) mean of unit vectors; only
        # the k×dim result crosses to the driver.
        stats = (
            assigned.select("cluster", F.posexplode("__unit").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()
        sums = {}
        for r in stats:
            sums.setdefault(r["cluster"], {})[r["pos"]] = (r["s"], r["n"])
        for c, dims in sums.items():
            vec = np.array([dims[p][0] / dims[p][1] for p in sorted(dims)])
            nrm = np.linalg.norm(vec)
            if nrm > 1e-12:
                new[c] = vec / nrm
        cents = new
    # final E-step against the CONVERGED centroids — the in-loop
    # assignment fed the M-step and is one update stale
    assigned = assign(cents)
    return assigned.select(id_col, "cluster", "sim")


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
    threshold: float = 0.97,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): k-means-cluster the embedding space, then drop any vector
    with a LOWER-id neighbor at cosine >= threshold INSIDE its cluster.
    Clustering is what makes semantic dedup tractable at 100 TB: the
    pairwise compare is confined to each cluster, so cost is
    sum(|cluster|^2) instead of N^2 — operators choose k proportional
    to corpus size (k ~ N/20k) to bound cluster width; boundary pairs
    split across clusters are the method's documented recall loss.

    Returns the SURVIVORS: (id_col, cluster) — one row per kept vector.
    Dropped == has at least one kept-or-dropped lower-id near-neighbor
    in-cluster (SemDeDup's greedy keep-lowest rule, chain-insensitive).
    """
    assigned = kmeans_clusters(corpus, id_col, vec_col, k=k, iters=iters)
    # pre-normalize ONCE so the per-pair compare is a bare dot product —
    # norms recomputed inside the pair join would cost O(dim) × n_pairs
    # twice over
    vecs = (
        corpus.select(F.col(id_col), as_double_array(vec_col).alias("__vd"))
        .withColumn("__n", F.greatest(l2_norm(F.col("__vd")), F.lit(1e-12)))
        .select(
            id_col,
            F.transform(F.col("__vd"), lambda x: x / F.col("__n")).alias("__v"),
        )
        .join(assigned.select(id_col, "cluster"), id_col)
    )
    a = vecs.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
    )
    b = vecs.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
    )
    sim = dot_product("__va", "__vb")
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(F.round(sim, 9) >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return (
        vecs.join(dropped, id_col, "left_anti")
        .select(id_col, "cluster")
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus:
    (src, dst, sim, rank ≤ k) per vector — the precursor structure for
    SemDeDup-style pruning, graph-based ANN indexes, and
    representativeness sampling. Same SRP bucket machinery as
    embedding_neardup_lsh, but NOTHING is broadcast: candidates come
    from the (tbl, bucket) self-join (both directions, src ≠ dst),
    vectors are re-fetched via two id-keyed joins, and the per-node
    top-k is a window over src — all shuffles linear in candidate
    volume, never N² (the self-kNN 'query set' IS the corpus, so a
    broadcast query side would not fit). Recall is the LSH physics — same
    regimes as embedding_neardup_lsh's docstring; measured against
    brute force in tests/test_similarity.py."""
    from pyspark.sql import Window

    sig = srp_signatures(corpus, id_col, vec_col, n_tables, n_bits)
    a = _bucket_stack(sig, "src", n_tables)
    b = _bucket_stack(sig, "dst", n_tables)
    candidates = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("src"), as_double_array(vec_col).alias("sv"))
    vb = corpus.select(F.col(id_col).alias("dst"), as_double_array(vec_col).alias("dv"))
    scored = (
        candidates.join(va, "src")
        .join(vb, "dst")
        .select(
            "src", "dst",
            F.round(cosine_similarity(F.col("sv"), F.col("dv")), 9).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def standardize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    eps: float = 1e-12,
) -> DataFrame:
    """Per-DIMENSION z-score standardization of an embedding column —
    the feature-scaling pass run before distance-based ops (k-means,
    quantized dedup, IVF) when dimensions carry different scales:
    output[i] = (x[i] − μᵢ) / max(σᵢ, eps), population σ.

    Plan (100 TB shape): ONE aggregation pass computes all per-dim
    moment sums — ``posexplode`` of the vector feeds a groupBy(dim)
    of (n, Σx, Σx²), so the shuffle carries |dims| keys of three
    doubles, not vectors — then the |dims|×2 stats table (a few KB
    for any real embedding width) is collected and baked into ONE
    map-side ``transform`` over the original rows as array literals:
    no join back, no second shuffle, no per-row Python. Driver state
    is bounded by dimension count exactly like kmeans' k×dim
    centroids. Constant-dimension input is standardized to 0 (the
    eps floor), never NaN/Inf. Degenerate/ragged vectors are the
    caller's contract (embeddings tables are fixed-width by
    construction; wrong-width rows would silently misalign any
    per-dim math, here as elsewhere)."""
    from pyspark.sql import functions as F

    stats = (
        df.select(F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("double")).alias("s"),
            F.sum(
                F.col("val").cast("double") * F.col("val").cast("double")
            ).alias("ss"),
        )
        .collect()
    )
    by_dim = {r.dim: r for r in stats}
    means, stds = [], []
    for d in sorted(by_dim):
        r = by_dim[d]
        mu = r.s / r.n
        var = max(0.0, r.ss / r.n - mu * mu)
        means.append(mu)
        stds.append(max(var**0.5, eps))
    mean_arr = F.array(*[F.lit(m) for m in means])
    std_arr = F.array(*[F.lit(s) for s in stds])
    out = F.expr(
        f"transform({vec_col}, (x, i) -> "
        "(cast(x as double) - element_at(__mu, i + 1)) / element_at(__sd, i + 1))"
    )
    return (
        df.withColumn("__mu", mean_arr)
        .withColumn("__sd", std_arr)
        .withColumn(vec_col, out)
        .drop("__mu", "__sd")
    )


# ---------------------------------------------------------------------------
# Distributed PCA (covariance spectrum + projection)
# ---------------------------------------------------------------------------


class PCAFit:
    """Fitted PCA state: bounded by d (embedding width), never by N.

    Fields: ``n`` rows seen, ``mean`` (d), ``eigvals`` (d, descending,
    covariance eigenvalues = per-component variance), ``components``
    (d lists of d floats, row j = j-th principal axis, unit norm,
    sign-canonicalized so the largest-|loading| entry is positive —
    eigenvectors are otherwise only defined up to sign, and a
    deterministic output contract needs one representative)."""

    def __init__(self, n, mean, eigvals, components):
        self.n = n
        self.mean = mean
        self.eigvals = eigvals
        self.components = components


def pca_fit(df: DataFrame, vec_col: str = "embedding") -> PCAFit:
    """Fit PCA over an embedding column with the classic two-level
    Gram-matrix reduction — the 100 TB shape for any second-moment
    statistic:

    1. ``mapInPandas`` computes one PARTIAL per Arrow batch: row
       count, column sums (d), and the raw Gram XᵀX flattened (d²)
       via one numpy matmul — Arrow-batched, no per-row Python.
    2. The partials (a few KB each, one per batch) are reduced by
       Spark itself: posexplode + groupBy(position) + sum, so the
       driver collects exactly d + d² cells REGARDLESS of partition
       count — no P×d² driver sink, no tree of collects.
    3. Driver finishes in O(d³): Cov = (G − n·μμᵀ)/(n−1), then
       ``numpy.linalg.eigh`` (symmetric, deterministic given Cov).

    Float-sum order across partitions varies, so Cov carries last-bit
    noise; consumers should round reported variances (~1e-6 relative
    noise at most for well-conditioned spectra). Requires n ≥ 2 and
    fixed-width vectors (the embeddings-table contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("pca_fit: empty input or null vector")
    d = len(first[0])

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            yield pd.DataFrame(
                {
                    "n": [int(len(m))],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    partials = df.select(vec_col).mapInPandas(partial, schema).persist()
    try:
        n = partials.agg(F.sum("n")).first()[0]
        if n is None or n < 2:
            raise ValueError("pca_fit: needs at least 2 rows")
        s_rows = (
            partials.select(F.posexplode("s").alias("i", "v"))
            .groupBy("i")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        g_rows = (
            partials.select(F.posexplode("g").alias("i", "v"))
            .groupBy("i")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
    finally:
        partials.unpersist()

    s = np.zeros(d)
    for r in s_rows:
        s[r.i] = r.v
    g = np.zeros(d * d)
    for r in g_rows:
        g[r.i] = r.v
    gram = g.reshape(d, d)
    mu = s / n
    cov = (gram - n * np.outer(mu, mu)) / (n - 1)
    cov = (cov + cov.T) / 2.0  # symmetrize away last-bit asymmetry
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    comps = []
    for j in range(d):
        c = v[:, j]
        top = int(np.argmax(np.abs(c)))
        if c[top] < 0:
            c = -c
        comps.append(c.tolist())
    return PCAFit(int(n), mu.tolist(), np.maximum(w, 0.0).tolist(), comps)


def pca_project(
    df: DataFrame,
    fit: PCAFit,
    k: int,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project rows onto the top-k principal axes:
    out[j] = (x − μ)·component_j. The k×d loadings and μ are baked in
    as ARRAY LITERALS (like standardize_embeddings' stats), so the
    projection is one map-side codegen expression per row — no join,
    no shuffle, no Python in the row path. k·d literals stay tiny for
    any real embedding width."""
    mu = F.array(*[F.lit(float(m)) for m in fit.mean])
    centered = F.zip_with(as_double_array(vec_col), mu, lambda a, b: a - b)
    outs = []
    for j in range(k):
        cj = F.array(*[F.lit(float(c)) for c in fit.components[j]])
        outs.append(
            F.aggregate(
                F.zip_with(centered, cj, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return df.withColumn(out_col, F.array(*outs))


def pq_train_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 4,
):
    """Product quantization (Jégou et al., TPAMI 2011 — the ANN
    compression standard behind IVF-PQ indexes): split each vector into
    ``m`` contiguous subvectors, k-means each subspace independently
    (``ksub`` codes), and store each vector as ``m`` small codes —
    ``m·log2(ksub)`` bits instead of ``dim·32``. This is the missing
    tier between this module's exact rerank (float vectors) and its
    bucketing (LSH/IVF): at 100 TB the CODES fit in memory where the
    vectors never will, so candidate scoring runs over codes
    (asymmetric distance via a per-query lookup table) and only the
    final shortlist touches raw vectors.

    Training mirrors kmeans_clusters' scalable shape, run for ALL
    subspaces at once: explode rows to (id, sub, subvec) — one corpus
    scan per iteration, assignment by squared-L2 against the broadcast
    m×ksub×(dim/m) codebook entirely in codegen, M-step one keyed
    shuffle of (sub, code, pos) partial sums; only the codebook
    (m·ksub·dim/m = dim·ksub doubles) ever reaches the driver. Same
    determinism contract as kmeans_clusters: init = first ksub vectors
    in id order (sliced per subspace), distances rounded to 9 digits
    before the argmin so shuffle-order last-bit noise cannot flip a
    code, ties to the LOWEST code; empty cells keep their previous
    centroid. dim must divide evenly by m (raises otherwise — a padding
    policy would silently change distances).

    Returns ``(codes, codebook)``: codes = (id_col, codes array<int>
    of length m, recon_err double — the vector's total squared
    quantization error, the fidelity number PQ tuning sweeps); codebook
    = the m×ksub×dsub nested list for downstream ADC scoring.
    """
    import numpy as np

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pq_train_encode: empty corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    init_rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(ksub).collect()
    if len(init_rows) < ksub:
        raise ValueError(f"need >= ksub={ksub} vectors, have {len(init_rows)}")
    full = np.asarray([r[1] for r in init_rows], dtype=np.float64)
    # codebook[sub] = ksub × dsub
    books = [full[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]

    base = corpus.select(
        F.col(id_col), as_double_array(vec_col).alias("__vd")
    ).select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("__vd", s * dsub + 1, dsub).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(id_col, "e.sub", "e.sv")

    def assign(bks: list[np.ndarray]) -> DataFrame:
        # book_lit[sub][code] = centroid array; struct(-dist, -code) so
        # array_max picks min distance, ties to the lowest code.
        book_lit = F.array(
            *[
                F.array(
                    *[
                        F.array(*[F.lit(float(x)) for x in c])
                        for c in bks[s]
                    ]
                )
                for s in range(m)
            ]
        )
        cands = F.transform(
            F.element_at(book_lit, F.col("sub") + 1),
            lambda c, i: F.struct(
                (
                    -F.round(
                        F.aggregate(
                            F.zip_with("sv", c, lambda x, y: (x - y) * (x - y)),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        9,
                    )
                ).alias("negdist"),
                (-i).alias("negcode"),
            ),
        )
        best = F.array_max(cands)
        return base.select(
            id_col,
            "sub",
            "sv",
            (-best["negcode"]).cast("int").alias("code"),
            (-best["negdist"]).alias("dist"),
        )

    for _ in range(max(iters, 1)):
        assigned = assign(books)
        stats = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in stats:
            acc.setdefault((r["sub"], r["code"]), {})[r["pos"]] = (r["s"], r["n"])
        for (s, c), dims in acc.items():
            books[s][c] = np.array([dims[p][0] / dims[p][1] for p in sorted(dims)])

    final = assign(books)
    codes = (
        final.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("code")))
            ).alias("__sc"),
            F.sum("dist").alias("recon_err"),
        )
        .select(
            id_col,
            F.transform("__sc", lambda e: e["code"]).alias("codes"),
            "recon_err",
        )
    )
    return codes, [b.tolist() for b in books]


def pq_adc_topk(
    codes: DataFrame,
    codebook: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the
    scoring half of IVF-PQ: for each query, precompute the tiny
    m×ksub lookup table LUT[sub][code] = ||q_sub − centroid||² on the
    driver (the codebook is dim×ksub doubles — the only thing that
    ever leaves the cluster), then score every stored vector as
    Σ_sub LUT[sub][codes[sub]] — m array lookups + adds per vector,
    entirely in codegen, touching 16-BIT codes instead of the raw
    float vectors. At 100 TB this is the difference between scanning
    codes (~2 bytes/vector) and scanning embeddings (~KB/vector); the
    exact rerank (cosine_topk) then runs on the shortlist only.

    Output matches cosine_topk's shape: (query_id, neighbor_id,
    adc_dist, rank), rank = row_number over (dist asc rounded to 9
    digits, neighbor_id) — deterministic under ties. The distance is
    the PQ approximation of squared L2; its fidelity is exactly the
    reconstruction error q264 profiles.
    """
    import numpy as np
    from pyspark.sql import Window

    m = len(codebook)
    books = [np.asarray(b, dtype=np.float64) for b in codebook]
    dsub = books[0].shape[1]
    q_rows = queries.select(id_col, as_double_array(vec_col).alias("qv")).collect()
    lut_rows = []
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        lut = [
            [float(((qv[s * dsub : (s + 1) * dsub] - c) ** 2).sum()) for c in books[s]]
            for s in range(m)
        ]
        lut_rows.append((r[id_col], lut))
    spark = codes.sparkSession
    luts = spark.createDataFrame(
        lut_rows, f"query_id bigint, lut array<array<double>>"
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                codes_col, "lut", lambda c, l: F.element_at(l, c + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), codes_col)
        .crossJoin(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def jl_project(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to k dimensions — the
    cheap linear compression run before ANN indexing when PCA's two
    passes (q218) are too expensive: out = x · R / sqrt(k) with R a
    fixed dim×k Gaussian matrix. JL (1984, public result): pairwise
    distances are preserved within (1±ε) w.h.p. for k = O(ln n / ε²);
    E[‖out‖²] = ‖x‖² EXACTLY for any x (rows of R are unit-variance) —
    the invariant the q279 audit pins.

    Scale shape: R is derived DETERMINISTICALLY from ``seed`` on the
    driver (dim×k doubles — for any real embedding width a few KB) and
    baked into one map-side ``transform``: zero shuffles, zero joins,
    zero corpus-dependent driver state; the same seed reproduces the
    same projection on any cluster. Column k_j = Σ_i x_i·R_ij runs as
    a zip_with/aggregate per output dim, all in codegen. Output:
    (id_col, projected array<double> of length k)."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    first = df.select(F.size(as_double_array(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("jl_project: empty input")
    dim = first["d"]
    rng = np.random.RandomState(seed)
    R = rng.standard_normal((dim, k)) / np.sqrt(k)
    cols = [
        F.array(*[F.lit(float(R[i][j])) for i in range(dim)]) for j in range(k)
    ]
    x = as_double_array(vec_col)
    out = F.array(
        *[
            F.aggregate(
                F.zip_with(x, cols[j], lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for j in range(k)
        ]
    )
    return df.select(F.col(id_col), out.alias("projected"))
