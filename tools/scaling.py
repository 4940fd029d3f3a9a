"""Measured scaling curve: sf0.1 → sf1 (10×) per-query time ratios.

Every 100×-scale claim in this repo is otherwise static analysis (plan
shapes, the linter). This tool produces the one dynamic datapoint the
sandbox can hold: generate an sf1 dataset (10× sf0.1), run the headline
+ dedup/curation queries at both SFs under the bench protocol
(warmup pass, then N clearCache'd timed passes, per-query median,
noop sink), and record sec(sf1)/sec(sf0.1) per query in SCALING.json.
A plan that survives 10× with a ~linear ratio is evidence; one that
goes superlinear is a finding (diagnosed in SCALING.md).

sf1 generation — a strict superset of the driver's sf0.1 testdata
(replica 0 is the identity), so sf0.1 results embed in sf1:
- replicas 1..9 shift every key column (PK and FK consistently) by
  replica * 10_000_000 — key spaces stay disjoint, join fan-outs and
  group sizes scale in COUNT, not depth, matching how a real corpus
  grows;
- document text gets a per-replica token suffix (bijective token remap:
  shingle/dup structure within a replica is preserved EXACTLY, while
  cross-replica shingle overlap is zero) — so the duplicate RATE is
  constant and dedup outputs scale ~10×, not combinatorially, which is
  what "same corpus, 10× bigger" means; n_chars is recomputed;
- part names get per-replica triple-character prefixes (pairwise
  prefix edit distance 3 > q250's k=2), keeping the edit-distance
  near-dup structure per replica and none across;
- events get fresh user-id spaces per replica (state scales
  horizontally with the key space, per-user depth constant);
- embeddings replicate with shifted vec_ids and per-replica SIGNED
  DIMENSION FLIPS (decade "r" flips among dims 0-3 by the bits of the
  replica index, decade "s" dims 4-7 — composition-unique, replica 0
  identity): sign flips are EXACT in floating point and preserve every
  within-replica L2/cosine distance, so each replica's neighborhood/
  density structure is an isometric copy, while cross-replica vectors
  decorrelate. The first version replicated vectors IDENTICALLY —
  harmless for top-k ANN (bounded k) but it densified the ε-pair graph
  ~100× per decade (every point gained 10 coincident copies per
  replication), which the r8 sf10 run exposed as a fake 22.6× DBSCAN
  "superlinearity": the operator was sublinear against a workload the
  generator had quadratically inflated, violating the protocol's own
  "same structure, 10× bigger" definition;
- nation/region stay fixed (bounded dims, as in TPC-H).

Usage:
  python tools/scaling.py generate   # write .scaling/sf1 (idempotent)
  python tools/scaling.py measure    # run both SFs, write SCALING.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:  # runnable as `python tools/scaling.py`
    sys.path.insert(0, REPO)
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.path.join(REPO, ".scaling", "sf1")
N_REPLICAS = 10
STRIDE = 10_000_000
ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))

# 11 headline queries + the rest of the dedup/curation family
QUERY_NAMES = [
    "q01_pricing_summary",
    "q02_customer_monthly_mart",
    "q03_team_incentive_mart",
    "q04_star_enrichment",
    "q14_events_hourly",
    "q146_association_rules",
    "q157_waiting_suppliers",
    "q25_ann_cosine_topk",
    "q22_ngram_jaccard_pairs",
    "q23_minhash_lsh_pairs",
    "q33_corpus_curation",
    "q21_dedup_exact",
    "q24_simhash_pairs",
    "q250_name_edit_neardup",
    # round-6 additions: sketch-envelope, layout, maintenance, text ops
    "q252_overlap_sketch_envelope",
    "q253_ks_returnflag_price",
    "q254_zorder_layout",
    "q255_compaction_plan",
    "q256_table_fingerprint",
    "q257_gopher_rules",
    "q258_passage_dedup_rewrite",
    "q259_minhash_estimate_envelope",
    # round-6 late additions: tokenizer induction, PQ, phrase search
    "q264_pq_fidelity",
    "q266_bpe_pair_census",
    "q267_bpe_merges",
    "q269_phrase_search",
    "q270_bpe_lossless_audit",
    # round-6 final additions: envelope audits, IVM, temporal anti-join
    "q271_percentile_rank_envelope",
    "q273_rollup_cascade",
    "q274_bloom_soundness_audit",
    "q275_simhash_exactdup_recall",
    "q276_training_export_audit",
    "q277_view_no_purchase_7d",
    "q278_incremental_join",
    "q279_jl_projection_audit",
    "q280_dbscan_census",
    "q281_pq_descent_audit",
    "q282_cohort_conversion",
    "q283_dbscan_invariant_audit",
    # round-7 additions: DSIR selection, RRF fusion, debounce, hybrid
    "q284_dsir_importance",
    "q285_quality_rank_fusion",
    "q286_debounce_census",
    "q287_hybrid_search",
    "q288_curation_funnel",
]

# ratio above which a query is flagged for plan diagnosis: 10× data on a
# fixed 32-core box should be ≤ ~10× work for linear plans; 12 leaves
# room for shuffle constants and output-size growth.
LINEAR_BUDGET = 12.0

_PREFIX = {
    # replica part-name prefixes, pairwise lev 3 within AND across
    # decades (decade tags select disjoint alphabets, so a decade-2
    # replica of the identity can never collide with a decade-1
    # replica copied through identically — the bug the composition
    # test pins)
    "r": ["", "bbb ", "ddd ", "fff ", "hhh ", "jjj ", "kkk ", "mmm ",
          "ppp ", "qqq "],
    "s": ["", "ttt ", "vvv ", "www ", "xxx ", "yyy ", "zzz ", "ccc ",
          "ggg ", "lll "],
}


def _spark():
    from sales_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="sales_data_pipeline_spark-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate(
    src_dir: str | None = None,
    dst_dir: str | None = None,
    n_replicas: int = N_REPLICAS,
    spark=None,
    stride: int = STRIDE,
    tag: str = "r",
) -> None:
    """Write ``dst_dir`` = ``src_dir`` replicated ``n_replicas``× as a
    strict superset (replica 0 = identity). Parametrized so the
    invariants (superset, exact count ratio, replica-disjoint dup
    structure) are testable at sf0.001 (tests/test_scaling_gen.py);
    the measurement path uses the module defaults."""
    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.catalog import TABLES, table

    # The signed-flip pattern below uses only the low 4 bits of the
    # replica index: replica 16 would get flip_dims = [] and silently
    # reproduce the identical-copy replication bug this scheme fixes
    # (fake ε-graph densification — see module docstring). Enforce the
    # invariant where the flips are computed, not via the incidental
    # _PREFIX lookup failure at r >= 10.
    if n_replicas > 10:
        raise ValueError(
            f"generate: n_replicas={n_replicas} > 10 — the embedding "
            "signed-flip scheme only distinguishes 16 replicas per "
            "decade tag and _PREFIX carries 10; compose decades "
            "(tag='s') instead of raising the replica count"
        )
    src_dir = src_dir or SF01
    dst_dir = dst_dir or SF1_DIR
    if os.path.exists(os.path.join(dst_dir, "_DONE")):
        print(f"already generated at {dst_dir}")
        return
    spark = spark or _spark()
    os.makedirs(dst_dir, exist_ok=True)

    key_cols = {
        "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "part": ["p_partkey"],
        "supplier": ["s_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "nation": [],   # fixed dims: copied once, not replicated
        "region": [],
    }
    for name in TABLES:
        src = table(spark, src_dir, name)
        if not key_cols[name]:
            out = src
        else:
            parts = []
            for r in range(n_replicas):
                rep = src
                for k in key_cols[name]:
                    rep = rep.withColumn(k, F.col(k) + F.lit(r * stride))
                if name == "documents" and r > 0:
                    # bijective token remap: within-replica shingle/dup
                    # structure preserved, cross-replica overlap zero.
                    # The suffix carries the DECADE TAG, not just the
                    # replica index: composing generations (sf1 → sf10)
                    # with one alphabet would collide decade-2 replica k
                    # of the identity with decade-1 replica k copied
                    # through ("tok_r5" twice) — inflating cross-replica
                    # duplicates and breaking the constant-dup-rate
                    # protocol claim (caught by the 29× pair growth in
                    # the first sf10 run; re-measured after this fix).
                    rep = rep.withColumn(
                        "text",
                        F.array_join(
                            F.transform(
                                F.split("text", " "),
                                lambda t: F.concat(t, F.lit(f"_{tag}{r}")),
                            ),
                            " ",
                        ),
                    ).withColumn("n_chars", F.length("text"))
                if name == "part" and r > 0:
                    rep = rep.withColumn(
                        "p_name",
                        F.concat(F.lit(_PREFIX[tag][r]), F.col("p_name")),
                    )
                if name == "embeddings" and r > 0:
                    # signed-dimension flips (see module docstring):
                    # decade-keyed dim block, replica bits pick which
                    # dims flip; unary minus is float-exact so within-
                    # replica distances are preserved bitwise
                    base = {"r": 0, "s": 4}[tag]
                    flip_dims = [
                        base + b for b in range(4) if (r >> b) & 1
                    ]

                    # closure FACTORY, not a defaulted extra parameter:
                    # transform() binds by arity, and a third param —
                    # even defaulted — breaks the (element, index) form
                    # (same trap as ratelimit's seeded permutations)
                    def _flip_fn(dims):
                        def _flip(x, i):
                            out = x
                            for d in dims:
                                out = F.when(
                                    i == F.lit(d), -x
                                ).otherwise(out)
                            return out

                        return _flip

                    rep = rep.withColumn(
                        "embedding",
                        F.transform("embedding", _flip_fn(tuple(flip_dims))),
                    )
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst_dir}/{name}.parquet")
        print(f"wrote {name}")
    open(os.path.join(dst_dir, "_DONE"), "w").close()
    print(f"generated at {dst_dir}")


def _err_summary(ex: Exception) -> str:
    """One-line artifact-legible failure summary. Engine guards raise
    USER_RAISED_EXCEPTION with the diagnosis in the message; when the
    failure surfaces through a py4j wrapper or an AQE stage-
    materialization aggregate (e.g. dbscan's localCheckpoint path),
    that line is buried — surface the first line carrying it so
    SKEW/SCALING error entries name the guard (q22's 'max_candidates',
    eps_pairs' 'max_candidate_pairs') instead of 'An error occurred
    while calling oNNN.localCheckpoint.'."""
    lines = [ln.strip() for ln in str(ex).splitlines() if ln.strip()]
    for ln in lines:
        if "USER_RAISED_EXCEPTION" in ln:
            return ln[:300]
    # Infra failures (disk-full, OOM) bury the root cause in a stack of
    # "Caused by:" frames under a generic py4j first line — surface the
    # deepest cause so the artifact names the resource, not oNNN.
    causes = [ln for ln in lines if ln.startswith("Caused by:")]
    if causes:
        return f"{(lines[0] if lines else '')[:120]} <- {causes[-1][:178]}"
    return (lines[0] if lines else repr(ex))[:300]


def _time_queries(spark, sf_dir: str) -> tuple[dict, dict, dict]:
    """Bench protocol: one warmup pass (also records output row counts
    for output-growth diagnosis), then ITERS clearCache'd timed passes,
    per-query median through a noop sink. Failures (e.g. q22's exact-
    tier blow-up guard firing at sf1 — by design) are recorded, not
    fatal."""
    from sales_data_pipeline_spark.plans import QUERIES

    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    live = []
    spark.catalog.clearCache()
    for name in QUERY_NAMES:
        try:
            rows[name] = QUERIES[name].fn(spark, sf_dir).count()
            live.append(name)
        except Exception as ex:  # guard-fired / resource failure: record
            msg = _err_summary(ex)
            errors[name] = msg
            print(f"  {name}: FAILED ({msg[:120]})", file=sys.stderr)
        _drain_dead_blocks(spark)
    samples: dict[str, list[float]] = {n: [] for n in live}
    import gc

    for _ in range(ITERS):
        spark.catalog.clearCache()
        # clearCache frees cached DataFrames but NOT localCheckpoint
        # blocks (non-evictable lineage truncation — the DBSCAN/graph
        # family); those are released by the ContextCleaner only after
        # the PYTHON-side references are collected. Without an explicit
        # collect the py4j refs outlive each pass and the checkpoint
        # blocks accumulate across timed passes until the JVM heap dies
        # (q280's sf10 run OOM'd exactly this way — r8).
        gc.collect()
        for name in list(live):
            t0 = time.perf_counter()
            try:
                QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as ex:  # a timed-pass failure (e.g. an
                # sf-dependent resource blow-up the warmup's smaller
                # plan survived) must be RECORDED, not kill the whole
                # artifact run — the r7 subset run died on one query's
                # driver.maxResultSize and merged nothing
                errors[name] = _err_summary(ex)
                live.remove(name)
                samples.pop(name, None)
                print(f"  {name}: FAILED timed pass ({errors[name][:120]})",
                      file=sys.stderr)
            else:
                samples[name].append(time.perf_counter() - t0)
            finally:
                # Between queries (OUTSIDE the timed window), on BOTH
                # the success and failure paths (r11 — a failed heavy
                # query leaves the most dead spill of all, exactly the
                # ENOSPC/OOM scenario this drain targets): drop the
                # py4j refs and force a driver GC so the ContextCleaner
                # frees the finished query's shuffle files NOW. The 60s
                # periodicGC backstop (session.py) is not enough here:
                # back-to-back big-SF graph queries each leave ~20 GiB
                # of dead spill, and piling 3-4 of them inside one GC
                # interval filled the disk (second r10 sf10 ENOSPC —
                # the first was fixed by periodicGC alone; this bounds
                # the high-water to ~one query's working set regardless
                # of how fast the campaign produces garbage).
                _drain_dead_blocks(spark)
    timings = {n: round(statistics.median(ts), 3) for n, ts in samples.items()}
    return timings, rows, errors


def _drain_dead_blocks(spark) -> None:
    """Free dead shuffle/checkpoint blocks between protocol steps:
    collect the Python-side refs (py4j handles pin the JVM lineage),
    then force a driver JVM GC so ContextCleaner's weak refs fire.
    Shuffle cleanup is async (referenceTracking.blocking.shuffle
    defaults false) — the brief sleep lets the cleaner thread drain."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def _merge_artifact(
    prev: dict | None,
    names: list,
    small_key: str,
    big_key: str,
    t_small: dict,
    t_big: dict,
    rows_small: dict,
    rows_big: dict,
    err_small: dict,
    err_big: dict,
    cpus: str | None = None,
) -> tuple[dict, dict]:
    """Merge this run's measurements into the previous artifact
    (pure — unit-tested by tests/test_scaling_gen.py). Invariants the
    r7 subset run violated (ADVICE r8 medium: a freshly-FAILING query
    kept its stale success entry and the error-clearing loop then
    deleted the fresh error):
      * freshly green this run (in both t_small and t_big) → new
        queries entry, and that side's stale errors cleared;
      * FAILED this run on either side → any stale success entry is
        dropped (the artifact never shows a timing alongside a
        swallowed error) and the fresh error is kept;
      * not in this run's subset → previous entry/errors untouched;
      * stale errors clear PER SIDE, only for a side the query
        freshly succeeded on (a fresh error can never be deleted,
        because err_* and t_* are disjoint by construction);
      * a fresh entry records the ``cpus`` it was timed on: a subset
        run keeps the previous protocol block, which describes the
        untouched entries, not this run's host.
    """
    queries = dict((prev or {}).get("queries", {}))
    errors = {
        small_key: dict((prev or {}).get("errors", {}).get(small_key, {})),
        big_key: dict((prev or {}).get("errors", {}).get(big_key, {})),
    }
    errors[small_key].update(err_small)
    errors[big_key].update(err_big)
    for name in names:
        if name in t_small and name in t_big:
            ratio = (
                round(t_big[name] / t_small[name], 2)
                if t_small[name] > 0
                else None
            )
            queries[name] = {
                f"{small_key}_sec": t_small[name],
                f"{big_key}_sec": t_big[name],
                "ratio": ratio,
                f"rows_{small_key}": rows_small.get(name),
                f"rows_{big_key}": rows_big.get(name),
                "row_ratio": (
                    round(rows_big[name] / rows_small[name], 2)
                    if rows_small.get(name)
                    else None
                ),
                "superlinear": bool(ratio and ratio > LINEAR_BUDGET),
                "cpus": cpus,
            }
        else:
            queries.pop(name, None)
    for side, fresh in ((small_key, t_small), (big_key, t_big)):
        for n in list(errors[side]):
            if n in fresh:
                del errors[side][n]
    return queries, errors


# Canonical SF for plan fingerprints: the smallest testdata. The
# fingerprint captures the PROGRAM (analyzed logical plan), which is
# what changes when a query is rewritten — computing it at a tiny SF
# keeps the cost of the staleness test bounded even for queries whose
# construction runs driver-side iterations (kmeans/PQ/CC fixpoints).
FP_SF = "/root/testdata/sf0.001"


def _plan_fingerprint(spark, name: str, sf_dir: str = FP_SF) -> str:
    """Stable hash of a catalog query's ANALYZED logical plan at a
    canonical SF. Analyzed (not optimized) on purpose: it precedes
    CacheManager substitution and AQE, so it is independent of session
    cache state and runtime config — it changes iff the DataFrame
    program changes. Expression IDs (#123), lambda-variable counters,
    round-robin repartition counts (spread_scan's core count) and the
    data path are normalized out. One session dependence remains:
    spread_scan adds its node only when the scan has under half the
    session's cores in partitions, so a session of 2 or fewer cores
    fingerprints the spread queries without it. This is what makes
    scaling-artifact staleness STRUCTURAL: each measured entry records
    the fingerprint of the plan it timed, and a test flags any entry
    whose current fingerprint differs (the same move that made bench
    self-adjudicating in r6)."""
    import hashlib
    import re

    from sales_data_pipeline_spark.plans import QUERIES

    df = QUERIES[name].fn(spark, sf_dir)
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+", "#", s)
    # PySpark's higher-order-function lambda variables are named from a
    # PROCESS-GLOBAL counter (x_1, y_2, ... — one counter across ALL
    # variable names: zip_with binds x_N and y_M, aggregate binds acc_K),
    # so the same program renders different names depending on how many
    # lambdas earlier query constructions created in this session — the
    # r9 finding that made every lambda-bearing fingerprint
    # nondeterministic (pinned by tests/test_scaling_staleness.py::
    # test_fingerprint_is_deterministic_within_a_session). Normalize
    # every lambda-variable counter away like exprIds.
    s = re.sub(r"\b([A-Za-z]+)_\d+#", r"\1_#", s)
    # operators/scale.spread_scan round-robins a thin scan to the
    # session's defaultParallelism, so its `Repartition <n>, true` node
    # carries the core count of whichever session built the plan
    # (local[4] in the test fixture, local[$SPARK_GRAFT_CPUS] in the
    # measuring tools). That literal is session state, not program:
    # normalize it like exprIds. No catalog query sets a round-robin
    # count of its own — every other repartition is by expression
    # (RepartitionByExpression), whose count still fingerprints.
    s = re.sub(r"\bRepartition \d+, true\b", "Repartition <P>, true", s)
    s = s.replace(sf_dir, "<SF>")
    return hashlib.md5(s.encode()).hexdigest()[:12]


def _stamp_fingerprints(spark, queries: dict, names: list) -> None:
    """Attach plan_fp to each entry measured THIS run (merged-in old
    entries keep the fingerprint of the plan they actually timed)."""
    for n in names:
        if n in queries:
            queries[n]["plan_fp"] = _plan_fingerprint(spark, n)


def fingerprint() -> None:
    """One-time backfill: stamp plan_fp for every entry in both
    scaling artifacts from the CURRENT plans. Only sound when every
    entry's plan is unchanged since its measurement — entries known
    stale must be re-measured (subset mode) first, or the backfill
    hides exactly the staleness the fingerprint exists to expose."""
    spark = _spark()
    fps: dict[str, str] = {}
    for fname in ("SCALING.json", "SCALING10.json"):
        path = os.path.join(REPO, fname)
        with open(path) as f:
            doc = json.load(f)
        for n, entry in doc["queries"].items():
            if n not in fps:
                fps[n] = _plan_fingerprint(spark, n)
            entry["plan_fp"] = fps[n]
        with open(path, "w") as f:
            json.dump(doc, f, indent=2)
        print(f"{fname}: stamped {len(doc['queries'])} entries")


def measure() -> None:
    """Full run rewrites SCALING.json. SPARK_GRAFT_SCALE_QUERIES (comma
    list) restricts the run to a subset and MERGES those entries into
    the existing JSON — for re-measuring a query whose plan changed
    without paying the whole matrix."""
    global QUERY_NAMES
    subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if subset:
        QUERY_NAMES = [n.strip() for n in subset.split(",") if n.strip()]
    if not os.path.exists(os.path.join(SF1_DIR, "_DONE")):
        generate()
    spark = _spark()
    # warm the JVM so sf0.1's first query isn't billed JVM startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    print("== timing sf0.1 ==", file=sys.stderr)
    t01, rows01, err01 = _time_queries(spark, SF01)
    print("== timing sf1 ==", file=sys.stderr)
    t1, rows1, err1 = _time_queries(spark, SF1_DIR)

    cpus = str(spark.sparkContext.defaultParallelism)
    out = {
        "protocol": {
            "iters": ITERS,
            "cpus": cpus,
            "sf_small": SF01,
            "sf_big": SF1_DIR,
            "data_ratio": N_REPLICAS,
            "linear_budget": LINEAR_BUDGET,
        },
        "queries": {},
        "errors": {},
    }
    scaling_path = os.path.join(REPO, "SCALING.json")
    prev = None
    if subset and os.path.exists(scaling_path):
        with open(scaling_path) as f:
            prev = json.load(f)
        out["protocol"] = prev.get("protocol", out["protocol"])
    out["queries"], out["errors"] = _merge_artifact(
        prev, QUERY_NAMES, "sf0.1", "sf1",
        t01, t1, rows01, rows1, err01, err1, cpus,
    )
    _stamp_fingerprints(spark, out["queries"], QUERY_NAMES)
    with open(scaling_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out["queries"], indent=2))
    flagged = [n for n, q in out["queries"].items() if q["superlinear"]]
    print(f"flagged superlinear (> {LINEAR_BUDGET}x): {flagged or 'none'}")


SF10_DIR = os.path.join(REPO, ".scaling", "sf10")


def measure_decade() -> None:
    """Second measured decade: sf1 → sf10 (100× the driver's bench SF)
    for the HEADLINE family. sf10 = sf1 replicated 10× with stride 100M
    (same superset/disjoint-key/token-remap invariants, one decade up:
    replica 0 of sf10 is sf1 itself). A plan whose sf0.1→sf1 ratio and
    sf1→sf10 ratio are both ≈ linear has a measured two-decade cost
    curve — the strongest dynamic evidence the sandbox can produce for
    the 100 TB story. Writes SCALING10.json (same shape as
    SCALING.json, keys sf1/sf10)."""
    global QUERY_NAMES
    headline = QUERY_NAMES[:11]
    subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if subset:
        headline = [n.strip() for n in subset.split(",") if n.strip()]
    QUERY_NAMES = headline
    if not os.path.exists(os.path.join(SF1_DIR, "_DONE")):
        generate()
    if not os.path.exists(os.path.join(SF10_DIR, "_DONE")):
        generate(
            src_dir=SF1_DIR,
            dst_dir=SF10_DIR,
            n_replicas=10,
            stride=100_000_000,
            tag="s",  # decade-unique remap alphabet (see generate())
        )
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    print("== timing sf1 ==", file=sys.stderr)
    t1, rows1, err1 = _time_queries(spark, SF1_DIR)
    print("== timing sf10 ==", file=sys.stderr)
    t10, rows10, err10 = _time_queries(spark, SF10_DIR)
    cpus = str(spark.sparkContext.defaultParallelism)
    out = {
        "protocol": {
            "iters": ITERS,
            "cpus": cpus,
            "sf_small": SF1_DIR,
            "sf_big": SF10_DIR,
            "data_ratio": 10,
            "linear_budget": LINEAR_BUDGET,
        },
        "queries": {},
        "errors": {},
    }
    path = os.path.join(REPO, "SCALING10.json")
    prev = None
    if subset and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        out["protocol"] = prev.get("protocol", out["protocol"])
    out["queries"], out["errors"] = _merge_artifact(
        prev, headline, "sf1", "sf10",
        t1, t10, rows1, rows10, err1, err10, cpus,
    )
    _stamp_fingerprints(spark, out["queries"], headline)
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out["queries"], indent=2))
    flagged = [n for n, q in out["queries"].items() if q["superlinear"]]
    print(f"flagged superlinear (> {LINEAR_BUDGET}x): {flagged or 'none'}")


def measure_eps() -> None:
    """Occupancy-controlled ε-family decade probe (r10 — VERDICT r9
    task 7). The sf10 campaign measured q280/q283 at ~20× per decade
    and diagnosed WHY: the replicated corpus holds the embedding SPACE
    fixed while points grow 10×, so mean ε-cell occupancy rises 10×
    per decade and the ε-graph (quadratic in occupancy) grew 99.2× —
    the operator itself was ~6× SUBLINEAR in emitted pairs. r10's
    default-on max_candidate_pairs fence now fails that corpus fast.
    This probe converts the diagnosis from argument to artifact: a
    corpus whose occupancy is HELD O(1) (area grows with n — the
    regime a real 100 TB near-dup space lives in, where new data
    explores new space) must scale ~linearly across the same decade.

    Generator (pure map, deterministic, no RNG state): points arrive
    in CLUSTERS of a fixed size — cluster centers on a coarse grid
    with separation >> eps (clusters never bridge), per-point offsets
    x,y = xxhash64(id, seed) mod 1e6 / 1e6 · side inside a box whose
    side holds mean ε-cell occupancy = OCC at every n: side =
    sqrt(CLUSTER·eps²/OCC). Growing n 10× adds 10× CLUSTERS of the
    same density and size — occupancy O(1) AND component size O(1),
    which is what 'new data explores new space' means (a uniform
    occupancy-4 square instead percolates into ONE n-node component,
    and the census probe degenerates into a giant-component CC
    benchmark — the first r10 attempt). Probes eps_pairs (the
    candidate join itself) and the full dbscan census (pairs → cores →
    CC → border) at n and 10n, ITERS clearCache'd medians through a
    noop sink. Writes SCALING_EPS.json."""
    import gc

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.operators.dbscan import dbscan, eps_pairs

    EPS, MIN_PTS, OCC, CLUSTER = 0.15, 4, 4.0, 500
    # r11 (VERDICT r10 task 4): the linear-regime claim is a REGIME,
    # not a point — decade 2 (200k→2M) runs the same generator via
    #   SPARK_GRAFT_EPS_N_SMALL=200000 SPARK_GRAFT_EPS_N_BIG=2000000 \
    #   SPARK_GRAFT_EPS_DECADE=2 python tools/scaling.py measure_eps
    # and merges under "decade2" instead of overwriting decade 1.
    N_SMALL = int(os.environ.get("SPARK_GRAFT_EPS_N_SMALL", "20000"))
    N_BIG = int(os.environ.get("SPARK_GRAFT_EPS_N_BIG", "200000"))
    decade = os.environ.get("SPARK_GRAFT_EPS_DECADE", "")
    side = (CLUSTER * EPS * EPS / OCC) ** 0.5
    sep = side + 10 * EPS  # inter-center gap >> eps: no bridges
    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def pts(n: int):
        import math

        grid = math.isqrt(n // CLUSTER) + 1
        base = spark.range(n).select(F.col("id").alias("vec_id"))
        cid = (F.col("vec_id") / F.lit(CLUSTER)).cast("long")
        center = {
            "x": (cid % F.lit(grid)).cast("double") * F.lit(sep),
            "y": (cid / F.lit(grid)).cast("long").cast("double") * F.lit(sep),
        }
        off = lambda seed: (  # noqa: E731
            (F.pmod(F.xxhash64("vec_id", F.lit(seed)), F.lit(1_000_000)))
            / F.lit(1_000_000.0)
            * F.lit(side)
        ).cast("double")
        return base.select(
            "vec_id",
            F.array(center["x"] + off(1), center["y"] + off(2)).alias("vec"),
        )

    def census(df):
        out = dbscan(df, eps=EPS, min_pts=MIN_PTS, dims=2)
        return out.agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count_distinct(
                F.when(F.col("cluster") >= 0, F.col("cluster"))
            ).alias("n_clusters"),
            F.sum((F.col("cluster") < 0).cast("long")).alias("n_noise"),
        )

    probes = {
        "eps_pairs": lambda df: eps_pairs(df, df, eps=EPS, dims=2),
        "dbscan_census": census,
    }
    out: dict = {
        "protocol": {
            "iters": ITERS,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "eps": EPS,
            "min_pts": MIN_PTS,
            "occupancy": OCC,
            "cluster_size": CLUSTER,
            "cluster_side": round(side, 6),
            "center_separation": round(sep, 6),
            "n_small": N_SMALL,
            "n_big": N_BIG,
            "note": (
                "mean eps-cell occupancy AND component size held constant "
                "across the decade (10x points = 10x well-separated "
                "clusters of 500): the regime where grid blocking is "
                "linear. Complements SCALING10's saturating-corpus rows, "
                "where the SAME operator now fails fast by design "
                "(max_candidate_pairs default)."
            ),
        },
        "probes": {},
    }
    for name, fn in probes.items():
        rec: dict = {}
        for key, n in (("small", N_SMALL), ("big", N_BIG)):
            df = pts(n)
            rec[f"rows_{key}"] = fn(df).count()
            ts = []
            for _ in range(ITERS):
                spark.catalog.clearCache()
                gc.collect()
                t0 = time.perf_counter()
                fn(pts(n)).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            rec[f"{key}_sec"] = round(statistics.median(ts), 3)
        rec["n_ratio"] = round(N_BIG / N_SMALL, 1)
        rec["ratio"] = (
            round(rec["big_sec"] / rec["small_sec"], 2)
            if rec["small_sec"]
            else None
        )
        out["probes"][name] = rec
        print(f"  {name}: {rec}", file=sys.stderr)
    path = os.path.join(REPO, "SCALING_EPS.json")
    doc: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    if decade:
        # additional decades merge under their own key; decade 1 (the
        # root layout, kept for artifact-consumer compatibility) is
        # preserved untouched
        doc[f"decade{decade}"] = out
    else:
        doc.update(out)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(doc, indent=2))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "measure"
    {
        "generate": generate,
        "measure": measure,
        "measure10": measure_decade,
        "fingerprint": fingerprint,
        "measure_eps": measure_eps,
    }[cmd]()
