"""Skew-regime measurement: the scale dimension SCALING.md couldn't see.

The sf0.1→sf1→sf10 curve (tools/scaling.py) holds duplicate RATE and
key distribution CONSTANT — by design, that's what "same corpus, 10×
bigger" means. The cost: every skew defense in the engine (q22's
candidate-count guard, q23's ``max_bucket_size`` bucket cap, the
salted-join/AQE machinery in ``operators/scale.py``) had only ever been
exercised by unit fixtures, never by a measurement. This tool closes
that gap with two adversarial sf1-scale corpora and writes SKEW.json:

**Boilerplate corpus** (``.scaling/sf1boil``): sf1 with 40% of the
50k documents rewritten as one of 64 cluster templates (200 shared
tokens) plus a 5-token doc-unique tail. Each cluster is ~312 near-
identical docs (pairwise Jaccard ≈ 0.94): the prefix index of the
EXACT tier (q22) puts ~76 template shingles × 312 docs in the same
prefix buckets, so the candidate estimate Σ C(c,2) ≈ 2.4×10⁸ exceeds
``max_candidates=10⁸`` — the corpus is built to make the guard fire
end-to-end (its raison d'être, previously never observed outside unit
tests). The LSH path (q23) must COMPLETE on the same corpus (its
output is the genuine ~3.1M within-cluster pairs), and the
``max_bucket_size`` cap must measurably shed the mega-buckets.

**Zipf corpus** (``.scaling/sf1zipf``): sf1 with ``o_custkey`` and
``events.user_id`` redrawn from a Zipf(s≈1) distribution over the SAME
key spaces (referential integrity preserved: every drawn key exists in
the dimension). Inverse-CDF draw: u ~ U(0,1), rank = ⌊N^u⌋ gives
p(k) ∝ 1/k; the hottest customer holds ~5.8% of all orders (87k rows
vs 10 uniform), the hottest user ~7% of all events. This is the regime
where q118's per-user fan-out join and any sort-merge join on the key
develop straggler tasks; the harness measures the engine's three
answers (plain SMJ, AQE skew-split, ``salted_join``) against each
other on the identical plan.

Usage:
  python tools/skew.py generate   # build both corpora (idempotent)
  python tools/skew.py measure    # run the protocol, write SKEW.json

Protocol matches tools/scaling.py: warmup pass records output rows,
then ITERS clearCache'd timed passes through a noop sink, per-query
median; failures are recorded, not fatal (for q22-on-boilerplate a
recorded guard failure IS the expected result).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools import scaling  # noqa: E402  (path bootstrap above)

BOIL_DIR = os.path.join(REPO, ".scaling", "sf1boil")
ZIPF_DIR = os.path.join(REPO, ".scaling", "sf1zipf")
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

# documents-shaped queries measured on sf1 vs sf1boil
BOIL_QUERIES = [
    "q21_dedup_exact",
    "q22_ngram_jaccard_pairs",   # EXPECTED to fail on boil: guard fires
    "q23_minhash_lsh_pairs",
    "q24_simhash_pairs",
    "q33_corpus_curation",
    "q250_name_edit_neardup",
    # r11: the served sampled-triangle path — its co-occurrence edge
    # production is exactly the shape the boilerplate corpus attacks
    # (64 near-clique clusters drive shingle dfs to ~312; the distinct
    # collapses ~6x10^8 join rows to ~3.1M edges) while the sampled
    # wedge join stays bounded at target_wedges by construction
    "q294_triangle_estimate",
    # r11: the sampled exact-Jaccard census — serves the duplication
    # count on this exact corpus, where q22's guard fires by design
    "q297_jaccard_pair_estimate",
]
# key-distribution-sensitive queries measured on sf1 vs sf1zipf
ZIPF_QUERIES = [
    "q02_customer_monthly_mart",
    "q03_team_incentive_mart",
    "q04_star_enrichment",
    "q08_window_sum_distinct",
    "q14_events_hourly",
    "q40_salted_hot_key_agg",
    "q112_repeat_purchases",
    "q117_skew_report",
    "q118_multitouch_attribution",
    "q277_view_no_purchase_7d",
    "q282_cohort_conversion",
    "q286_debounce_census",
    "q289_attribution_banded",  # q118's banded-shuffle-key scale sibling
    "q290_repeat_purchases_banded",  # q112's (the 125.9× finding's fix)
    # r9 extension (VERDICT r8 task 4): the remaining key-then-band /
    # per-key-pairing shapes, measured under zipf keys
    "q30_asof_join",
    "q34_range_join",
    "q160_overlapping_activity",
    "q214_sequential_crosssell",
]


def _spark():
    return scaling._spark()


def _copy_tables(src_dir: str, dst_dir: str, skip: set[str]) -> None:
    from sales_data_pipeline_spark.catalog import TABLES

    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLES:
        if name in skip:
            continue
        s = os.path.join(src_dir, f"{name}.parquet")
        d = os.path.join(dst_dir, f"{name}.parquet")
        if not os.path.exists(d):
            shutil.copytree(s, d)


def boilerplate_text(
    doc_id_col: str = "doc_id",
    boil_frac: float = 0.4,
    n_clusters: int = 64,
    template_tokens: int = 200,
    tail_tokens: int = 5,
    seed: int = 7,
):
    """(is_boil, new_text) column pair for the template rewrite.

    Deterministic in doc_id (re-runs and tests agree); templates are
    shared ACROSS replicas (the point is cross-corpus collapse, so the
    per-replica token remap of the base generator must not apply);
    tails are doc-unique so within-cluster Jaccard is high but < 1
    (exact_dedup must NOT collapse the clusters — this is the near-dup
    storm that has to reach the near-dup operators)."""
    from pyspark.sql import functions as F

    doc_id = F.col(doc_id_col)
    is_boil = (
        F.pmod(F.xxhash64(doc_id, F.lit(seed)), F.lit(1000))
        < F.lit(int(boil_frac * 1000))
    )
    cluster = F.pmod(F.xxhash64(doc_id, F.lit(seed + 1)), F.lit(n_clusters))
    template = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(template_tokens - 1)),
            lambda j: F.concat(
                F.lit("boil"), cluster.cast("string"), F.lit("t"), j.cast("string")
            ),
        ),
        " ",
    )
    tail = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(tail_tokens - 1)),
            lambda j: F.concat(
                F.lit("u"), doc_id.cast("string"), F.lit("x"), j.cast("string")
            ),
        ),
        " ",
    )
    return is_boil, F.concat(template, F.lit(" "), tail)


def zipf_key(src_col, n_keys: int, per_replica: int, stride: int, seed: int):
    """Zipf(s≈1) draw over a replicated key space, as a pure Column.

    u ~ U(0,1) from a 20-bit slice of xxhash64(src, seed); rank
    k = ⌊N^u⌋ ∈ [1, N] has p(k) ∝ 1/k (inverse CDF of the log-uniform
    approximation to Zipf-1). rank→key maps dense rank j = k-1 onto the
    generator's replicated key layout r·stride + (j mod per_replica),
    so every drawn key exists in the corresponding dimension table."""
    from pyspark.sql import functions as F

    u = (
        F.pmod(F.xxhash64(src_col, F.lit(seed)), F.lit(1 << 20)).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 20))
    k = F.least(
        F.greatest(F.floor(F.pow(F.lit(float(n_keys)), u)), F.lit(1.0)),
        F.lit(float(n_keys)),
    ).cast("bigint")
    j = k - F.lit(1)
    return (
        F.floor((j / F.lit(float(per_replica)))).cast("bigint")
        * F.lit(stride)
        + F.pmod(j, F.lit(per_replica))
    ).cast("bigint")


def generate_boilerplate(
    sf1_dir: str | None = None,
    dst_dir: str | None = None,
    spark=None,
    **boil_kwargs,
) -> None:
    """sf1boil = sf1 with the documents table template-rewritten."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import table

    sf1_dir = sf1_dir or scaling.SF1_DIR
    dst_dir = dst_dir or BOIL_DIR
    if os.path.exists(os.path.join(dst_dir, "_DONE")):
        print(f"already generated at {dst_dir}")
        return
    spark = spark or _spark()
    _copy_tables(sf1_dir, dst_dir, skip={"documents"})
    docs = table(spark, sf1_dir, "documents")
    is_boil, boil = boilerplate_text(**boil_kwargs)
    out = docs.withColumn(
        "text", F.when(is_boil, boil).otherwise(F.col("text"))
    ).withColumn("n_chars", F.length("text"))
    out.write.mode("overwrite").parquet(f"{dst_dir}/documents.parquet")
    open(os.path.join(dst_dir, "_DONE"), "w").close()
    print(f"generated at {dst_dir}")


def generate_zipf(
    sf1_dir: str | None = None,
    dst_dir: str | None = None,
    spark=None,
    n_replicas: int = scaling.N_REPLICAS,
    stride: int = scaling.STRIDE,
    cust_per_replica: int = 15_000,
    user_per_replica: int = 1_500,
    seed: int = 11,
) -> None:
    """sf1zipf = sf1 with o_custkey / events.user_id redrawn Zipf."""
    from sales_data_pipeline_spark.catalog import table

    sf1_dir = sf1_dir or scaling.SF1_DIR
    dst_dir = dst_dir or ZIPF_DIR
    if os.path.exists(os.path.join(dst_dir, "_DONE")):
        print(f"already generated at {dst_dir}")
        return
    spark = spark or _spark()
    _copy_tables(sf1_dir, dst_dir, skip={"orders", "events"})
    from pyspark.sql import functions as F

    orders = table(spark, sf1_dir, "orders").withColumn(
        "o_custkey",
        zipf_key(
            F.col("o_orderkey"),
            n_keys=n_replicas * cust_per_replica,
            per_replica=cust_per_replica,
            stride=stride,
            seed=seed,
        ),
    )
    orders.write.mode("overwrite").parquet(f"{dst_dir}/orders.parquet")
    events = table(spark, sf1_dir, "events").withColumn(
        "user_id",
        zipf_key(
            F.col("event_id"),
            n_keys=n_replicas * user_per_replica,
            per_replica=user_per_replica,
            stride=stride,
            seed=seed + 1,
        ),
    )
    events.write.mode("overwrite").parquet(f"{dst_dir}/events.parquet")
    open(os.path.join(dst_dir, "_DONE"), "w").close()
    print(f"generated at {dst_dir}")


def generate() -> None:
    if not os.path.exists(os.path.join(scaling.SF1_DIR, "_DONE")):
        scaling.generate()
    spark = _spark()
    generate_boilerplate(spark=spark)
    generate_zipf(spark=spark)


# ---------------------------------------------------------------------------
# probes: operator variants and join-strategy experiments the catalog
# queries can't express (they are the guard/salt knobs themselves)
# ---------------------------------------------------------------------------


def _probe(spark, name, thunk, results, errors, iters=ITERS):
    """Time a DataFrame thunk like _time_queries times a query."""
    try:
        spark.catalog.clearCache()
        rows = thunk().count()
    except Exception as ex:  # expected for guard probes — record
        errors[name] = scaling._err_summary(ex)
        print(f"  probe {name}: FAILED ({errors[name][:120]})", file=sys.stderr)
        return None
    ts = []
    import gc

    for _ in range(iters):
        spark.catalog.clearCache()
        # release py4j refs so localCheckpoint blocks (graph-family
        # lineage truncation, non-evictable) free between passes —
        # the same lesson scaling._time_queries learned at sf10 (r8)
        gc.collect()
        t0 = time.perf_counter()
        thunk().write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    results[name] = {"sec": round(statistics.median(ts), 3), "rows": rows}
    return results[name]


def _boil_probes(spark) -> tuple[dict, dict]:
    """Operator-knob probes on the boilerplate corpus."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from sales_data_pipeline_spark.plans.text_dedup import curate_corpus

    results: dict = {}
    errors: dict = {}
    docs = lambda: table(spark, BOIL_DIR, "documents")  # noqa: E731
    # the bucket cap sheds the 64 mega-clusters from candidate
    # generation: expect FAR fewer rows and less time than the
    # uncapped q23 on the same corpus
    _probe(
        spark,
        "q23_boil_bucket_cap_100",
        lambda: minhash_lsh_pairs(docs(), threshold=0.6, max_bucket_size=100),
        results,
        errors,
    )
    # the informed-caller path q33's docstring prescribes at scale:
    # skip the survivor count, go straight to LSH
    _probe(
        spark,
        "q33_boil_use_lsh",
        lambda: curate_corpus(docs(), use_lsh=True),
        results,
        errors,
    )
    return results, errors


def _graph_probes(spark) -> dict:
    """Dedup-graph CONSUMERS on a dense-component graph (r10 — VERDICT
    r9 task 5): the boilerplate corpus induces a genuinely adversarial
    near-dup graph (64 components of ~312 docs each, ~3.1M edges — the
    SKEW rows only ever measured the pair PRODUCERS). The registered
    graph queries (q49/q127/q128/q147/q191/q203) build edges via the
    exact tier, whose candidate guard correctly FIRES on this corpus,
    so they are upstream-protected; what was unmeasured is whether the
    consumers themselves (pointer-jumping CC, PageRank, LPA, k-core,
    wedge-join triangles) melt when the components are dense. Protocol:
    materialize the LSH pair graph (the scale path that completes on
    this corpus) to parquet once per regime so the producer isn't
    billed, then time each consumer on the SAME parquet edges, uniform
    vs boil, ITERS clearCache'd medians. Also records the wedge count
    (Σ_y in-deg·out-deg — the triangle join's candidate volume, exact,
    computed as an aggregate) because triangle enumeration is the one
    consumer whose cost is quadratic in component density."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from sales_data_pipeline_spark.operators.graph import (
        connected_components,
        k_core,
        label_propagation,
        pagerank,
    )

    out: dict = {"ops": {}, "edges": {}, "errors": {}}
    edge_paths = {}
    for tag, sf_dir in (("uniform", scaling.SF1_DIR), ("boil", BOIL_DIR)):
        path = os.path.join(REPO, ".scaling", f"tmp_graph_edges_{tag}")
        docs = table(spark, sf_dir, "documents")
        minhash_lsh_pairs(docs, threshold=0.6).select(
            "doc_a", "doc_b"
        ).write.mode("overwrite").parquet(path)
        edge_paths[tag] = path
        out["edges"][tag] = spark.read.parquet(path).count()

    from sales_data_pipeline_spark.operators.graph import (
        triangle_count_estimate,
    )

    consumers = {
        "cc": lambda e: connected_components(e),
        "pagerank6": lambda e: pagerank(e, iters=6),
        "lpa5": lambda e: label_propagation(e, iters=5),
        "kcore2": lambda e: k_core(e, k=2),
        "triangles": lambda e: _triangle_counts(e),
        # the r11 served path past the wedge fence: DOULION sampled
        # estimate at the operator's SHIPPED default budget — on the
        # boil graph this runs the sampled regime (p ~ sqrt(1e7/3.26e8))
        "triangle_estimate": lambda e: triangle_count_estimate(e),
    }
    for op, fn in consumers.items():
        rec: dict = {}
        for tag in ("uniform", "boil"):
            edges = spark.read.parquet(edge_paths[tag])
            res, err = {}, {}
            _probe(spark, f"{op}_{tag}", lambda: fn(edges), res, err)
            if err:
                out["errors"][f"{op}_{tag}"] = next(iter(err.values()))
                rec[tag] = None
            else:
                rec[tag] = res[f"{op}_{tag}"]
        u, b = rec.get("uniform"), rec.get("boil")
        out["ops"][op] = {
            "uniform_sec": u and u["sec"],
            "boil_sec": b and b["sec"],
            "rows_uniform": u and u["rows"],
            "rows_boil": b and b["rows"],
            "ratio": (
                round(b["sec"] / u["sec"], 2) if u and b and u["sec"] else None
            ),
            # staleness stamp (r11 — VERDICT r10 task 3): probe rows
            # measure OPERATOR bodies, not registered queries, and the
            # probe's parquet edges are deleted after the campaign, so
            # the plan_fp recipe can't re-derive them. A hash of the
            # measured body's code (docstrings and comments excluded)
            # has exactly the right semantics: it changes iff the code
            # that runs changes.
            "body_fp": _body_fp(op),
        }
        if op in UNGUARDED_PROBES:
            # the row measures a body that does NOT ship (the guard
            # disabled) — it is diagnostic evidence for the fence, not
            # a current registered-plan measurement
            out["ops"][op]["unguarded_probe"] = True
    # triangle-join candidate volume (wedges), exact, as an aggregate
    for tag in ("uniform", "boil"):
        edges = spark.read.parquet(edge_paths[tag])
        ind = edges.groupBy(F.col("doc_b").alias("y")).agg(
            F.count(F.lit(1)).alias("d_in")
        )
        outd = edges.groupBy(F.col("doc_a").alias("y")).agg(
            F.count(F.lit(1)).alias("d_out")
        )
        wedges = (
            ind.join(outd, "y")
            .agg(F.coalesce(F.sum(F.col("d_in") * F.col("d_out")), F.lit(0)))
            .first()[0]
        )
        out["edges"][f"wedges_{tag}"] = int(wedges)
    for path in edge_paths.values():
        shutil.rmtree(path, ignore_errors=True)
    return out


# Which operators/graph.py function each graph-consumer probe actually
# times — the unit the body_fp staleness stamp hashes. "triangles" is
# the one probe that deliberately measures a NON-shipped body (guard
# disabled) and is flagged unguarded_probe in the artifact.
CONSUMER_BODIES = {
    "cc": "connected_components",
    "pagerank6": "pagerank",
    "lpa5": "label_propagation",
    "kcore2": "k_core",
    "triangles": "triangle_counts",
    "triangle_estimate": "triangle_count_estimate",
}
UNGUARDED_PROBES = frozenset({"triangles"})


def _body_fp(op: str) -> str:
    """Code hash of the operator body a graph-consumer probe times.
    Probe rows can't carry the catalog plan_fp (they measure operators
    over campaign-temporary parquet, not registered queries), but the
    staleness question is the same — 'is the measured body still the
    code that ships?' — so the hash covers the CODE only: the parsed
    ``def`` with every docstring removed, re-rendered by
    ``ast.unparse`` (comments never reach the AST). A docstring or
    comment edit leaves the stamp alone; any edit to what runs changes
    it. tests/test_scaling_staleness.py recomputes these and flags any
    SKEW graph_consumers row whose body drifted. The rendering is
    ``ast.unparse``'s, so a stamp is comparable only under the same
    Python minor version."""
    import ast
    import hashlib
    import inspect
    import textwrap

    from sales_data_pipeline_spark.operators import graph as _graph_mod

    src = inspect.getsource(getattr(_graph_mod, CONSUMER_BODIES[op]))
    tree = ast.parse(textwrap.dedent(src))
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:] or [ast.Pass()]
    return hashlib.md5(ast.unparse(tree).encode()).hexdigest()[:12]


def _triangle_counts(edges):
    """q127's consumer stage (per-node triangle counts) over a given
    canonical a<b edge list — UNGUARDED on purpose (max_wedges=None):
    the probe measures the wedge join's true cost on a dense-component
    graph; the registered path carries the default-on 10⁸ budget this
    measurement motivated (operators/graph.triangle_counts, r10)."""
    from sales_data_pipeline_spark.operators.graph import triangle_counts

    return triangle_counts(edges, max_wedges=None)


def graph() -> None:
    """Run only the graph-consumer probes and merge them into
    SKEW.json under the top-level 'graph_consumers' section."""
    path = os.path.join(REPO, "SKEW.json")
    with open(path) as f:
        doc = json.load(f)
    generate()
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    doc["graph_consumers"] = _graph_probes(spark)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(doc["graph_consumers"], indent=2))


def _plan_string(df) -> str:
    try:
        return df._jdf.queryExecution().toString()
    except Exception:
        return ""


def _fanout_join(spark, sf_dir: str, salted: bool):
    """q118's skew-victim core: per-user view×purchase fan-out join,
    reduced to a 1-row audit so the measured cost is the join itself."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import table

    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    if salted:
        from sales_data_pipeline_spark.operators.scale import salted_join

        joined = salted_join(v, p, on="user_id", n_salt=16)
    else:
        joined = v.join(p, "user_id")
    banded = joined.filter(
        (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return banded.agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("p_value"), 2).alias("touched_value"),
    )


def _join_experiments(spark) -> dict:
    """The same skewed fan-out join under the engine's three answers:
    plain sort-merge (the straggler baseline), AQE skew-split, and
    operators.scale.salted_join. Broadcast is disabled throughout —
    a broadcast join is skew-immune by construction and would hide the
    effect this experiment exists to measure (at 100 TB the probe side
    does not fit the broadcast budget)."""
    out: dict = {}
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sf1 shuffle partitions are ~1 MiB; scale AQE's skew detection
        # down to the corpus the same way a 100 TB job's defaults are
        # scaled to ITS partition sizes
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64k",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # the fan-out join feeds an aggregation: without force, AQE
        # refuses to split the skewed partitions because doing so
        # introduces an extra shuffle — the first experiment run
        # recorded 0 splits and plain-SMJ timing for exactly this
        # reason (a real operational lesson for the 100 TB runbook)
        conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        for name, skew_on, salted in (
            ("fanout_plain_smj", False, False),
            ("fanout_aqe_skewjoin", True, False),
            ("fanout_salted_join", False, True),
        ):
            conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
            ts = []
            for _ in range(ITERS):
                spark.catalog.clearCache()
                df = _fanout_join(spark, ZIPF_DIR, salted=salted)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            # the noop sink wraps the plan in ITS OWN QueryExecution —
            # the df's adaptive plan never finalizes and the skew
            # annotation is invisible there (first run of this harness
            # recorded 0 splits for exactly that reason). collect() a
            # fresh instance so ITS plan is the executed one, and read
            # the final-plan annotation.
            df = _fanout_join(spark, ZIPF_DIR, salted=salted)
            df.collect()
            plan = _plan_string(df)
            out[name] = {
                "sec": round(statistics.median(ts), 3),
                "final_plan_is_adaptive": "isFinalPlan=true" in plan,
                "skewed_joins_in_plan": plan.count("skew=true"),
            }
            # uniform-keys reference for the plain strategy only: the
            # zipf/uniform gap under an identical plan IS the skew cost
            if name == "fanout_plain_smj":
                ts_u = []
                for _ in range(ITERS):
                    spark.catalog.clearCache()
                    dfu = _fanout_join(spark, scaling.SF1_DIR, salted=False)
                    t0 = time.perf_counter()
                    dfu.write.format("noop").mode("overwrite").save()
                    ts_u.append(time.perf_counter() - t0)
                out["fanout_plain_smj_uniform"] = {
                    "sec": round(statistics.median(ts_u), 3),
                    "skewed_joins_in_plan": 0,
                }
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    return out


def _hot_key_report(spark) -> dict:
    """q117's diagnostic run on the zipf corpus — the detection half of
    the salt/AQE story (does the skew report actually surface the
    planted hot keys, with the share the generator implies?)."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows = (
        QUERIES["q117_skew_report"].fn(spark, ZIPF_DIR).collect()
    )
    return {
        "top_keys": [
            {
                "rank": r["key_rank"],
                "key": r["key"],
                "rows": r["key_rows"],
                "share": r["key_share"],
            }
            for r in rows
        ],
        "mean_rows_per_key": rows[0]["mean_rows_per_key"] if rows else None,
    }


def _ratios(small: dict, big: dict, cpus: str) -> dict:
    out = {}
    for name, t_adv in big.items():
        base = small.get(name)
        out[name] = {
            "uniform_sec": base,
            "skewed_sec": t_adv,
            "ratio": round(t_adv / base, 2) if base else None,
            # per row: a subset run keeps the previous protocol block
            "cpus": cpus,
        }
    return out


def measure() -> None:
    """Full run rewrites SKEW.json. SPARK_GRAFT_SKEW_QUERIES (comma
    list) restricts to a subset and MERGES those per-query entries into
    the existing artifact (probes/experiments are skipped — re-run the
    full protocol to refresh those), mirroring tools/scaling.py's
    subset mode for re-measuring a changed plan cheaply."""
    global BOIL_QUERIES, ZIPF_QUERIES
    subset = os.environ.get("SPARK_GRAFT_SKEW_QUERIES")
    prev = None
    path = os.path.join(REPO, "SKEW.json")
    if subset:
        names = {n.strip() for n in subset.split(",") if n.strip()}
        BOIL_QUERIES = [n for n in BOIL_QUERIES if n in names]
        ZIPF_QUERIES = [n for n in ZIPF_QUERIES if n in names]
        if os.path.exists(path):
            with open(path) as f:
                prev = json.load(f)
    generate()
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    cpus = str(spark.sparkContext.defaultParallelism)

    # --- boilerplate regime ---------------------------------------
    scaling.QUERY_NAMES = BOIL_QUERIES
    print("== boil: timing sf1 (uniform) ==", file=sys.stderr)
    t_u, rows_u, err_u = scaling._time_queries(spark, scaling.SF1_DIR)
    print("== boil: timing sf1boil ==", file=sys.stderr)
    t_b, rows_b, err_b = scaling._time_queries(spark, BOIL_DIR)
    probes_b, probe_err_b = (
        _boil_probes(spark) if not subset else ({}, {})
    )
    boil = {
        "queries": _ratios(t_u, t_b, cpus),
        "rows_uniform": rows_u,
        "rows_boil": rows_b,
        "errors_uniform": err_u,
        "errors_boil": err_b,
        "probes": probes_b,
        "probe_errors": probe_err_b,
        "q22_guard_fired": "max_candidates" in err_b.get(
            "q22_ngram_jaccard_pairs", ""
        ),
    }

    # --- zipf regime ----------------------------------------------
    scaling.QUERY_NAMES = ZIPF_QUERIES
    print("== zipf: timing sf1 (uniform) ==", file=sys.stderr)
    t_u2, rows_u2, err_u2 = scaling._time_queries(spark, scaling.SF1_DIR)
    print("== zipf: timing sf1zipf ==", file=sys.stderr)
    t_z, rows_z, err_z = scaling._time_queries(spark, ZIPF_DIR)
    zipf = {
        "queries": _ratios(t_u2, t_z, cpus),
        "rows_uniform": rows_u2,
        "rows_zipf": rows_z,
        "errors_uniform": err_u2,
        "errors_zipf": err_z,
        "hot_key_report": _hot_key_report(spark) if not subset else {},
        "join_experiments": _join_experiments(spark) if not subset else {},
    }

    # Plan-fingerprint each measured entry (r10 — VERDICT r9 task 2,
    # the same staleness gate SCALING/SCALING10 got in r9: a ratio
    # describes a specific plan body; q112's zipf row went stale by
    # hand-caught luck in r9, this makes it structural). Stamped from
    # the same session, analyzed-plan hash at the canonical FP SF.
    scaling._stamp_fingerprints(spark, boil["queries"], BOIL_QUERIES)
    scaling._stamp_fingerprints(spark, zipf["queries"], ZIPF_QUERIES)

    out = {
        "protocol": {
            "iters": ITERS,
            "cpus": cpus,
            "uniform": scaling.SF1_DIR,
            "boil": BOIL_DIR,
            "zipf": ZIPF_DIR,
            "boil_params": {
                "boil_frac": 0.4,
                "n_clusters": 64,
                "template_tokens": 200,
                "tail_tokens": 5,
            },
            "zipf_params": {
                "law": "rank = floor(N^u), p(k) ~ 1/k",
                "cust_keys": 150_000,
                "user_keys": 15_000,
            },
        },
        "boilerplate": boil,
        "zipf": zipf,
    }
    if prev is not None:
        out = _merge_subset(prev, out, BOIL_QUERIES, ZIPF_QUERIES)
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


_NON_QUERY_KEYS = frozenset(
    {"probes", "probe_errors", "hot_key_report", "join_experiments"}
)


def _merge_subset(
    prev: dict, fresh_doc: dict, boil_names: list, zipf_names: list
) -> dict:
    """Merge a subset run into the previous artifact (pure — unit
    tested). Invariants (the ones the r8 ADVICE caught scaling.py's
    merge violating): a name measured THIS run refreshes ALL its
    per-query records and a freshly-FAILED name drops its stale ratio
    entry while keeping the fresh error (per side); names not in the
    subset — and the probe/experiment sections and the protocol block,
    which describe them — stay untouched. A fresh row carries the
    ``cpus`` it was timed on (``_ratios``), since the kept protocol
    block may name another host."""
    for section, measured in (
        ("boilerplate", boil_names),
        ("zipf", zipf_names),
    ):
        old, fresh = prev[section], fresh_doc[section]
        for name in measured:
            for k, v in fresh.items():
                if not isinstance(v, dict) or k in _NON_QUERY_KEYS:
                    continue
                if name in v:
                    old.setdefault(k, {})[name] = v[name]
                else:
                    old.get(k, {}).pop(name, None)
    # Scalar flags derived from per-query records must be recomputed
    # from the MERGED state, not carried from either side: re-measuring
    # q22 alone would otherwise leave a stale q22_guard_fired that
    # contradicts the merged errors_boil entry.
    prev["boilerplate"]["q22_guard_fired"] = "max_candidates" in prev[
        "boilerplate"
    ].get("errors_boil", {}).get("q22_ngram_jaccard_pairs", "")
    return prev


def experiments() -> None:
    """Re-run only the join-strategy experiments + hot-key report and
    merge them into the existing SKEW.json (for iterating on the
    experiment protocol without repaying the query matrix)."""
    path = os.path.join(REPO, "SKEW.json")
    with open(path) as f:
        doc = json.load(f)
    generate()
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    doc["zipf"]["hot_key_report"] = _hot_key_report(spark)
    doc["zipf"]["join_experiments"] = _join_experiments(spark)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(doc["zipf"]["join_experiments"], indent=2))


def fingerprint() -> None:
    """One-time backfill: stamp plan_fp for every per-query entry in
    SKEW.json from the CURRENT plans (mirrors tools/scaling.py
    fingerprint). Only sound when every measured plan is unchanged
    since its measurement — entries known stale must be re-measured
    (subset mode) first, or the backfill hides exactly the staleness
    the fingerprint exists to expose."""
    path = os.path.join(REPO, "SKEW.json")
    with open(path) as f:
        doc = json.load(f)
    spark = scaling._spark()
    for section in ("boilerplate", "zipf"):
        queries = doc[section]["queries"]
        scaling._stamp_fingerprints(spark, queries, list(queries))
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(
        json.dumps(
            {
                s: {n: e.get("plan_fp") for n, e in doc[s]["queries"].items()}
                for s in ("boilerplate", "zipf")
            },
            indent=2,
        )
    )


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "measure"
    {
        "generate": generate,
        "measure": measure,
        "experiments": experiments,
        "fingerprint": fingerprint,
        "graph": graph,
    }[cmd]()
