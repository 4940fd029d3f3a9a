"""Dedup-operator properties that the SQL oracle can't express:
LSH recall vs exact ground truth, SimHash vs a pure-Python reference,
text-level exact dedup on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash64,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").cache()


def test_minhash_lsh_recall_on_strong_pairs(spark, docs):
    """Every exact pair with J ≥ 0.9 must be found by LSH
    (recall at t=0.9 with 16 bands × 4 rows is 1-(1-0.9⁴)^16 ≈ 0.9998)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert exact, "calibration: testdata should contain planted near-dups"
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert exact <= lsh
    # verification step makes LSH output exact-on-candidates: no false positives
    assert lsh <= {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }


def test_lsh_jaccard_values_match_exact(spark, docs):
    """For pairs both paths emit, the Jaccard value must be identical
    (verification recomputes it exactly)."""
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    for k in exact.keys() & lsh.keys():
        assert exact[k] == lsh[k]


def _py_simhash(text: str, spark_hash) -> int:
    """Reference SimHash using Spark's own xxhash64 for token hashes."""
    counts = [0] * 64
    for tok, h in spark_hash(text.split(" ")):
        for i in range(64):
            counts[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(64) if counts[i] > 0)


def test_simhash_matches_python_reference(spark, docs):
    sample = docs.limit(5).collect()
    got = {r.doc: r.simhash for r in simhash64(docs.limit(5)).collect()}

    def spark_hash(tokens):
        df = spark.createDataFrame([(t,) for t in tokens], "tok string")
        return [(r.tok, r.h) for r in df.select("tok", F.xxhash64("tok").alias("h")).collect()]

    for row in sample:
        expect = _py_simhash(row.text, spark_hash)
        # python ints are unsigned here; spark longs are signed 64-bit
        assert got[row.doc_id] & 0xFFFFFFFFFFFFFFFF == expect & 0xFFFFFFFFFFFFFFFF


def test_simhash_near_pairs_symmetric_and_bounded(spark, docs):
    pairs = simhash_near_pairs(docs, max_hamming=3).collect()
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 3


def test_exact_dedup_on_planted_duplicates(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),       # exact dup of 1
        (3, "  alpha beta gamma  "),   # dup modulo trim
        (4, "delta epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.keep_id: r.group_size for r in exact_dedup(df, "doc_id").collect()}
    assert out == {1: 3, 4: 1}


def test_short_doc_shingles_empty_not_descending(spark):
    """Docs shorter than n must yield no shingles (regression: descending
    sequence(1,0) crash/garbage)."""
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "doc_id long, text string")
    out = ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert out == []  # no shared 3-grams between the two docs


def test_curate_corpus_lsh_mode_superset_safe(spark, docs):
    """curate_corpus regime switch: the LSH keep-list must (a) contain
    every doc the exact keep-list contains (missed pairs only UNDROP),
    and (b) still drop planted verbatim-ish near-dups, which banded LSH
    at J≈1 finds with probability ~1."""
    from sales_data_pipeline_spark.plans.text_dedup import curate_corpus

    base = docs.limit(30).collect()
    # planted near-dups: copy with one trailing token appended -> J ≈ 1
    planted = [
        (10_000 + r.doc_id, r.lang, r.source, r.text + " extra")
        for r in base[:5]
        if len(r.text.split()) >= 25
    ]
    assert planted, "calibration: need docs long enough to pass the quality gate"
    corpus = spark.createDataFrame(
        [(r.doc_id, r.lang, r.source, r.text) for r in base] + planted,
        "doc_id long, lang string, source string, text string",
    )
    exact_keep = {
        r.doc_id for r in curate_corpus(corpus, use_lsh=False).collect()
    }
    lsh_keep = {r.doc_id for r in curate_corpus(corpus, use_lsh=True).collect()}
    assert exact_keep <= lsh_keep
    surviving_quality_ids = {
        r.doc_id for r in curate_corpus(corpus, near_threshold=1.01).collect()
    }  # threshold > 1 disables the near-dup stage -> quality+exact-dedup only
    for pid, *_ in planted:
        if pid in surviving_quality_ids and (pid - 10_000) in surviving_quality_ids:
            assert pid not in lsh_keep, f"planted near-dup {pid} not dropped in LSH mode"


def test_curate_corpus_auto_switch_counts_survivors(spark, docs):
    """use_lsh=None picks the exact path under the doc-count threshold
    and the LSH path above it (forced here with lsh_above_docs=1)."""
    from sales_data_pipeline_spark.plans.text_dedup import curate_corpus

    small = docs.limit(20)
    auto_exact = {r.doc_id for r in curate_corpus(small).collect()}
    explicit_exact = {r.doc_id for r in curate_corpus(small, use_lsh=False).collect()}
    assert auto_exact == explicit_exact
    auto_lsh = {r.doc_id for r in curate_corpus(small, lsh_above_docs=1).collect()}
    explicit_lsh = {r.doc_id for r in curate_corpus(small, use_lsh=True).collect()}
    assert auto_lsh == explicit_lsh


def test_connected_components_transitive_chain(spark):
    """A~B~C~D chain collapses to one cluster labeled by its min node,
    disjoint pair stays separate, and results are deterministic."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(2, 7), (7, 4), (4, 9), (11, 12)], "doc_a long, doc_b long"
    )
    got = {r.node: r.cluster for r in connected_components(pairs).collect()}
    assert got == {2: 2, 7: 2, 4: 2, 9: 2, 11: 11, 12: 11}
    again = {r.node: r.cluster for r in connected_components(pairs).collect()}
    assert again == got


def test_connected_components_long_path_converges(spark):
    """A 64-node path needs pointer jumping to converge inside the
    iteration budget (plain propagation would need 63 rounds)."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    got = connected_components(pairs).collect()
    assert {r.cluster for r in got} == {0}
    assert len(got) == 65


def test_connected_components_duplicate_and_reversed_edges(spark):
    """r12 dropped the symmetrization distinct (min-agg is duplicate-
    insensitive) — pin that duplicated and reversed pairs still yield
    exactly the canonical clustering, one row per node."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(2, 7), (2, 7), (7, 2), (7, 4), (11, 12), (12, 11)],
        "doc_a long, doc_b long",
    )
    rows = connected_components(pairs).collect()
    got = {r.node: r.cluster for r in rows}
    assert got == {2: 2, 7: 2, 4: 2, 11: 11, 12: 11}
    assert len(rows) == len(got)  # no duplicate node rows


def test_connected_components_empty_input(spark):
    """An empty pair list is a legal input (a corpus with no near-dups)
    — must return an empty frame, not diverge or raise."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).collect() == []


def test_connected_components_self_loop_and_star(spark):
    """Join-free round 0 (r12) seeds labels from the symmetrized edge
    groupBy — a self-loop and a star hub must both label correctly."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(5, 5), (10, 20), (10, 30), (10, 40)], "doc_a long, doc_b long"
    )
    got = {r.node: r.cluster for r in connected_components(pairs).collect()}
    assert got == {5: 5, 10: 10, 20: 10, 30: 10, 40: 10}


def test_lazy_local_checkpoint_defers_job_and_preserves_rows(spark):
    """The r12 lazy-localCheckpoint contract _truncate(eager=False)
    relies on: construction runs NO job (the loop's own convergence
    action materializes the blocks), rows are unchanged, and lineage is
    actually truncated (the checkpointed plan no longer recomputes its
    parent)."""
    from sales_data_pipeline_spark.operators.graph import _truncate

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("lazy-ckpt-probe", "construction must be job-free")
    try:
        df = spark.range(0, 1000, 1, numPartitions=2).selectExpr(
            "id", "id * 2 AS v"
        )
        out = _truncate(df, None, eager=False)
        assert tracker.getJobIdsForGroup("lazy-ckpt-probe") == []
    finally:
        sc.setJobGroup("", "")
    assert sorted(r.v for r in out.collect()) == sorted(
        r.v for r in df.collect()
    )
    # lineage truncated: the materialized plan is a scan of checkpoint
    # blocks, not the original range+project
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode (cluster fault tolerance) must produce the
    same clusters as localCheckpoint mode, and actually write checkpoint
    files under the given directory."""
    import os

    from sales_data_pipeline_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(2, 7), (7, 4), (4, 9), (11, 12)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r.node: r.cluster
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == {2: 2, 7: 2, 4: 2, 9: 2, 11: 11, 12: 11}
    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint files written"


def test_connected_components_raises_when_budget_exhausted(spark):
    """Exhausting max_iter without a fixpoint must raise, not return
    half-merged clusters."""
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.graph import (
        ConvergenceError,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with _pytest.raises(ConvergenceError, match="no fixpoint"):
        connected_components(pairs, max_iter=2)


def test_release_caches_frees_persisted_intermediates(spark, sf_dir):
    """The pair operators register their persisted shingle intermediates;
    release_caches() unpersists them all so long-lived sessions don't
    accumulate cached blocks (and don't need the blunt clearCache)."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        release_caches,
    )

    from pyspark import StorageLevel

    from sales_data_pipeline_spark.operators import dedup as _dedup

    release_caches()  # start clean
    # foreign leftovers with the SAME logical subtree would be
    # substituted by the CacheManager and mask our persist calls —
    # clear everything so the registry below is ours alone. (Do NOT
    # assert on sc.getPersistentRDDs() totals: the async ContextCleaner
    # collects other tests' stale localCheckpoint RDDs at arbitrary
    # times and the global count races it — bit two full-suite runs.)
    spark.catalog.clearCache()
    docs = table(spark, sf_dir, "documents")
    ngram_jaccard_pairs(docs, threshold=0.6).count()
    registered = list(_dedup._CACHED)
    assert len(registered) >= 2  # occurrence table + ordered sets
    for df in registered:
        assert df.storageLevel != StorageLevel.NONE, "registered but not persisted"
    assert release_caches() == len(registered)
    for df in registered:
        assert df.storageLevel == StorageLevel.NONE, "release left it cached"
    assert release_caches() == 0  # idempotent


def test_incremental_dedup_planted(spark):
    """A batch doc whose text already exists in history is dropped; a
    batch-internal duplicate keeps only its min id; fresh docs pass."""
    from sales_data_pipeline_spark.operators.dedup import incremental_dedup
    from sales_data_pipeline_spark.operators.text import fingerprint

    history_docs = spark.createDataFrame(
        [(100, "already seen text")], "doc_id long, text string"
    )
    hist = history_docs.select(fingerprint("text").alias("fp"))
    batch = spark.createDataFrame(
        [
            (1, "already seen text"),      # dup vs history -> dropped
            (2, "fresh content alpha"),    # kept
            (3, "fresh content alpha"),    # batch-internal dup -> dropped
            (4, "fresh content beta"),     # kept
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in incremental_dedup(batch, hist).collect())
    assert got == [2, 4]


# ---------------------------------------------------------------------------
# content-defined chunking (q90)
# ---------------------------------------------------------------------------


def test_cdc_chunks_reassemble_to_document(spark, docs):
    """Chunks in sequence order must concatenate back to the exact
    text — no dropped, duplicated, or overlapping bytes."""
    from sales_data_pipeline_spark.operators.dedup import cdc_chunks

    sample = docs.limit(50)
    ch = cdc_chunks(sample)
    rebuilt = (
        ch.orderBy("doc_id", "chunk_seq")
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.collect_list("chunk")).alias("rebuilt"))
    )
    joined = sample.select("doc_id", "text").join(rebuilt, "doc_id", "left")
    bad = joined.filter(
        F.coalesce(F.col("rebuilt"), F.lit("")) != F.coalesce(F.col("text"), F.lit(""))
    ).count()
    assert bad == 0


def test_cdc_resynchronizes_after_insertion(spark):
    """THE content-defined property: prepending bytes to a document
    shifts every offset, but the chunk stream re-aligns — the two
    versions must share most chunk hashes (fixed-stride chunking would
    share none)."""
    from sales_data_pipeline_spark.operators.dedup import cdc_chunks

    base = " ".join(f"token{i:04d}" for i in range(200))
    edited = "INSERTED PREFIX >>> " + base
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    ch = cdc_chunks(df)
    rows = ch.collect()
    h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
    h2 = {r.chunk_hash for r in rows if r.doc_id == 2}
    assert len(h1) > 5  # the cut rule actually fires
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, f"only {shared:.0%} of chunks re-aligned"


def test_lsh_bucket_cap_bounds_adversarial_mega_cluster(spark, docs):
    """A storm of near-identical docs lands whole in single (band,
    bucket) keys; the cap must drop those buckets (bounding the
    candidate join) while pairs among ordinary docs are unaffected."""
    base = docs.limit(30).select("doc_id", "text")
    storm = spark.range(200).select(
        (F.col("id") + 500000).alias("doc_id"),
        F.concat(F.lit("identical boilerplate text repeated many times over "
                       "and over again for the storm cluster documents here"),
                 F.lit(" tail")).alias("text"),
    )
    corpus = base.unionByName(storm)
    uncapped = minhash_lsh_pairs(corpus, threshold=0.6, persist=False)
    capped = minhash_lsh_pairs(
        corpus, threshold=0.6, persist=False, max_bucket_size=50
    )
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    # the storm contributes ~200*199/2 pairs uncapped; capped must kill them
    assert n_uncapped >= 199 * 100
    assert n_capped < 1000
    # pairs among the ORDINARY docs are identical with and without cap
    ord_un = {(r.doc_a, r.doc_b) for r in uncapped.filter(
        (F.col("doc_a") < 500000) & (F.col("doc_b") < 500000)).collect()}
    ord_cap = {(r.doc_a, r.doc_b) for r in capped.filter(
        (F.col("doc_a") < 500000) & (F.col("doc_b") < 500000)).collect()}
    assert ord_un == ord_cap


# ---------------------------------------------------------------------------
# pagerank (q128 covering checks)
# ---------------------------------------------------------------------------


def _py_pagerank(edges, damping=0.85, iters=10):
    """Pure-Python reference with the operator's exact contract
    (undirected, init 1/N, no dangling correction)."""
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    nodes = sorted({s for s, _ in und})
    out_deg = {}
    for s, _ in und:
        out_deg[s] = out_deg.get(s, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iters):
        mass = {v: 0.0 for v in nodes}
        for s, d in und:
            mass[d] += rank[s] / out_deg[s]
        rank = {v: base + damping * mass[v] for v in nodes}
    return rank


def test_pagerank_matches_python_reference(spark):
    from sales_data_pipeline_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (10, 11)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.rank for r in pagerank(df, iters=10).collect()}
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # probability mass conserved (no dangling nodes in undirected form)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_star_hub_ranks_highest(spark):
    from sales_data_pipeline_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 9)]
    df = spark.createDataFrame(star, "doc_a long, doc_b long")
    ranks = {r.node: r.rank for r in pagerank(df, iters=10).collect()}
    assert ranks[0] == max(ranks.values())
    leaves = [v for k, v in ranks.items() if k != 0]
    assert max(leaves) - min(leaves) < 1e-12  # symmetric leaves tie


def test_pagerank_duplicate_edges_do_not_inflate(spark):
    """Near-dup pair lists can repeat a pair (e.g. found by both LSH
    and SimHash); duplicates must not inflate out-degree or double a
    contribution — the edge set is deduplicated like the python
    reference's set-of-edges."""
    from sales_data_pipeline_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1)]
    clean = spark.createDataFrame(edges, "doc_a long, doc_b long")
    dirty = spark.createDataFrame(edges * 3 + [(2, 1)], "doc_a long, doc_b long")
    want = {r.node: r.rank for r in pagerank(clean, iters=8).collect()}
    got = {r.node: r.rank for r in pagerank(dirty, iters=8).collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


def test_pagerank_directed_sinks_counted_and_mass_conserved(spark):
    """Directed mode: a sink-only node (appears only as dst) must get a
    rank row fed by its incoming mass, and dangling mass must be
    redistributed so total rank stays exactly 1. Chain 1→2→3 plus a
    feeder 4→2: node 3 is a pure sink, nodes 3 and 4 dangle."""
    from sales_data_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 2)], "doc_a long, doc_b long"
    )
    ranks = {
        r.node: r.rank
        for r in pagerank(df, iters=20, undirected=False).collect()
    }
    assert set(ranks) == {1, 2, 3, 4}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # the sink drains node 2's whole mass, so it ranks highest;
    # the two leaf sources tie at the bottom
    assert ranks[3] == max(ranks.values())
    assert ranks[3] > ranks[2] > ranks[1]
    assert abs(ranks[1] - ranks[4]) < 1e-12


def test_pagerank_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode (cluster fault tolerance) must produce the
    same ranks as the default localCheckpoint mode."""
    from sales_data_pipeline_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    base = {r.node: r.rank for r in pagerank(df, iters=6).collect()}
    ck = {
        r.node: r.rank
        for r in pagerank(
            df, iters=6, checkpoint_dir=str(tmp_path / "pr_ckpt")
        ).collect()
    }
    assert base == ck


# ---------------------------------------------------------------------------
# bfs_hops (q147 covering checks)
# ---------------------------------------------------------------------------


def test_bfs_hops_chain_distances_and_roots(spark):
    """Chain 1-2-3-4-5 plus separate component 10-11: hop counts are
    exact shortest distances from each component's min node."""
    from sales_data_pipeline_spark.operators.graph import bfs_hops

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    rows = sorted((r.node, r.root, r.hops) for r in bfs_hops(df).collect())
    assert rows == [
        (1, 1, 0), (2, 1, 1), (3, 1, 2), (4, 1, 3), (5, 1, 4),
        (10, 10, 0), (11, 10, 1),
    ], rows


def test_bfs_hops_duplicate_edges_and_cycle(spark):
    """Duplicate pairs and cycles must not change distances (edge set
    is deduplicated; min-agg takes the shortest path around a cycle)."""
    from sales_data_pipeline_spark.operators.graph import bfs_hops

    # square 1-2-3-4-1, edge (1,2) repeated
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (3, 4), (4, 1)], "doc_a long, doc_b long"
    )
    rows = sorted((r.node, r.root, r.hops) for r in bfs_hops(df).collect())
    assert rows == [(1, 1, 0), (2, 1, 1), (3, 1, 2), (4, 1, 1)], rows


def test_bfs_hops_explicit_sources_and_checkpoint(spark, tmp_path):
    """Explicit multi-source BFS: nearest source wins, equidistant ties
    break to the smaller root; reliable-checkpoint mode agrees."""
    from sales_data_pipeline_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5 with sources {1, 5}: node 3 is equidistant (2 hops)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    srcs = spark.createDataFrame([(1,), (5,)], "node long")
    want = [(1, 1, 0), (2, 1, 1), (3, 1, 2), (4, 5, 1), (5, 5, 0)]
    rows = sorted((r.node, r.root, r.hops)
                  for r in bfs_hops(df, sources=srcs).collect())
    assert rows == want, rows
    ck = sorted(
        (r.node, r.root, r.hops)
        for r in bfs_hops(
            df, sources=srcs, checkpoint_dir=str(tmp_path / "bfs_ckpt")
        ).collect()
    )
    assert ck == want, ck


def test_bfs_hops_raises_when_budget_exhausted(spark):
    """A diameter larger than max_iter must raise, not return truncated
    distances."""
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.graph import ConvergenceError, bfs_hops

    chain = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    srcs = spark.createDataFrame([(0,)], "node long")
    with _pytest.raises(ConvergenceError):
        bfs_hops(df, sources=srcs, max_iter=3)


# ---------------------------------------------------------------------------
# fuzzy contamination (q168 covering checks)
# ---------------------------------------------------------------------------


def test_fuzzy_contamination_catches_paraphrase_and_verbatim(spark, docs):
    """A verbatim benchmark copy must be flagged at jaccard 1.0; a
    lightly edited copy (token appended + one dropped) must still be
    flagged above the threshold; an unrelated doc must not be."""
    from sales_data_pipeline_spark.operators.dedup import (
        fuzzy_contamination_pairs,
        release_caches,
    )

    # split on a SINGLE space to match the engine's tokenizer exactly —
    # python str.split() collapses runs of whitespace, which silently
    # retokenizes documents containing double spaces (sf0.001 has them)
    # and destroys the planted shingle overlap
    base = [r for r in docs.limit(10).collect() if len(r.text.split(" ")) >= 30]
    bench_rows = [(100 + i, r.text) for i, r in enumerate(base[:3])]
    verbatim = (1, base[0].text)
    toks = base[1].text.split(" ")
    paraphrase = (2, " ".join(toks[:-2] + ["zzz"]))
    clean = (3, " ".join(f"uniqtok{i}" for i in range(40)))
    corpus = spark.createDataFrame(
        [verbatim, paraphrase, clean], "doc_id long, text string"
    )
    bench = spark.createDataFrame(bench_rows, "bench_id long, text string")
    try:
        pairs = {
            (r.doc_id, r.bench_id): r.jaccard
            for r in fuzzy_contamination_pairs(
                corpus, bench, threshold=0.5
            ).collect()
        }
        assert pairs[(1, 100)] == 1.0  # verbatim
        assert (2, 101) in pairs and pairs[(2, 101)] >= 0.5  # paraphrase
        assert not any(d == 3 for d, _ in pairs)  # clean untouched
    finally:
        release_caches()


def test_fuzzy_contamination_is_bipartite_only(spark):
    """Corpus-internal near-dups must NOT be emitted — only
    corpus×benchmark pairs (the self-join would pollute the
    contamination report with ordinary duplication)."""
    from sales_data_pipeline_spark.operators.dedup import (
        fuzzy_contamination_pairs,
        release_caches,
    )

    text = " ".join(f"w{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, text), (2, text)],  # internal exact dup pair
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, " ".join(f"b{i}" for i in range(40)))], "bench_id long, text string"
    )
    try:
        out = fuzzy_contamination_pairs(corpus, bench, threshold=0.3).collect()
        assert out == []  # the internal dup never appears
    finally:
        release_caches()


def test_minhash_signature_components_are_independent(spark):
    """Regression for the transform() lambda-arity bug: a 2-parameter
    lambda gets (element, array_index), so a defaulted seed parameter
    was silently shadowed by the POSITION — making all num_perm
    signature components identical (banded LSH degenerated to a single
    exact-match band). Components must differ across permutations, and
    identical shingle SETS in different array order must still produce
    identical signatures."""
    from sales_data_pipeline_spark.operators.dedup import _signatures_from_sets

    sets = spark.createDataFrame(
        [(1, [11, 22, 33, 44, 55]), (2, [55, 44, 33, 22, 11])],
        "doc long, sh array<bigint>",
    )
    rows = {r.doc: [r[f"h{i}"] for i in range(16)]
            for r in _signatures_from_sets(sets, 16).collect()}
    assert len(set(rows[1])) > 1, rows[1]  # not all components equal
    assert rows[1] == rows[2]  # order-independent over the same set


def test_signatures_equal_a_column_forest_oracle_bit_for_bit(spark, docs):
    """The SQL-text signature forest computes exactly what the Column
    forest (one closure per seed) computes, and every doc gets 64
    distinct permutations: a seed bound to the element position, or one
    seed shared by all components, would repeat values."""
    from sales_data_pipeline_spark.operators.dedup import (
        _NUM_PERM,
        _SHINGLE_N,
        _shingle_sets,
        _signatures_from_sets,
    )

    sets = _shingle_sets(docs.limit(60), "doc_id", "text", _SHINGLE_N, spread=True)

    def _perm(seed):
        return lambda s: F.xxhash64(s, F.lit(seed))

    oracle = sets.select(
        "doc",
        *[F.array_min(F.transform("sh", _perm(i))).alias(f"h{i}") for i in range(_NUM_PERM)],
    )
    got = {r.doc: tuple(r[1:]) for r in _signatures_from_sets(sets, _NUM_PERM).collect()}
    want = {r.doc: tuple(r[1:]) for r in oracle.collect()}
    assert got == want and len(got) == 60
    assert all(len(set(h)) == _NUM_PERM for h in got.values() if h[0] is not None)


# ---------------------------------------------------------------------------
# incremental near-dup gate (q179 covering checks)
# ---------------------------------------------------------------------------


def test_incremental_neardup_catches_cross_batch_dups(spark, docs):
    """A batch doc that verbatim- or near-duplicates a HISTORY doc must
    be flagged against that doc; novel batch docs pass; history text is
    never needed (only the signature index participates)."""
    from sales_data_pipeline_spark.operators.dedup import (
        incremental_neardup_lsh,
        minhash_index,
    )

    hist_rows = [
        r for r in docs.limit(8).collect() if len(r.text.split(" ")) >= 30
    ]
    history = spark.createDataFrame(
        [(r.doc_id, r.text) for r in hist_rows], "doc_id long, text string"
    )
    index = minhash_index(history)
    toks = hist_rows[0].text.split(" ")
    batch = spark.createDataFrame(
        [
            (900, hist_rows[0].text),                     # verbatim
            (901, " ".join(toks[:-2] + ["zzz"])),        # near-dup
            (902, " ".join(f"novel{i}" for i in range(40))),  # new content
        ],
        "doc_id long, text string",
    )
    out = {
        (r.new_doc, r.history_doc): r.est_jaccard
        for r in incremental_neardup_lsh(batch, index, threshold=0.5).collect()
    }
    assert out[(900, hist_rows[0].doc_id)] == 1.0
    assert (901, hist_rows[0].doc_id) in out
    assert out[(901, hist_rows[0].doc_id)] >= 0.5
    assert not any(nd == 902 for nd, _ in out)


def test_incremental_neardup_estimator_tracks_exact_jaccard(spark, docs):
    """Ĵ must track exact Jaccard within the k=64 binomial error
    (~3σ ≈ 0.19) on real near-dup pairs from the corpus."""
    from sales_data_pipeline_spark.operators.dedup import (
        incremental_neardup_lsh,
        minhash_index,
        ngram_jaccard_pairs,
        release_caches,
    )

    try:
        exact = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        assert exact, "calibration: corpus should contain near-dup pairs"
        ids = sorted({i for p in exact for i in p})
        half = set(ids[::2])
        history = docs.filter(F.col("doc_id").isin(*half)).select("doc_id", "text")
        batch = docs.filter(~F.col("doc_id").isin(*half)).select("doc_id", "text")
        est = {
            (r.new_doc, r.history_doc): r.est_jaccard
            for r in incremental_neardup_lsh(
                batch, minhash_index(history), threshold=0.3
            ).collect()
        }
        checked = 0
        for (a, b), j in exact.items():
            key = (b, a) if a in half else (a, b)
            if key in est:
                assert abs(est[key] - j) <= 0.19, (key, est[key], j)
                checked += 1
        assert checked > 0
    finally:
        release_caches()


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _py_lpa(edges, iters=5):
    """Synchronous LPA with self-vote, plurality vote, min-label
    tie-break — the exact contract of operators/graph.py
    label_propagation."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    for v in list(adj):
        adj[v].add(v)  # the self-vote
    lbl = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            counts = Counter(lbl[n] for n in adj[v])
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[v] = best
        lbl = new
    return lbl


def test_lpa_matches_python_reference(spark):
    from sales_data_pipeline_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (10, 11)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.community for r in label_propagation(df, iters=5).collect()}
    want = _py_lpa(edges, iters=5)
    assert got == want


def test_lpa_keeps_bridged_cliques_separate(spark):
    from sales_data_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    # two 4-cliques joined by a single bridge edge: CC merges them,
    # LPA must keep two communities
    k1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    edges = k1 + k2 + [(4, 11)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    comm = {r.node: r.community for r in label_propagation(df, iters=5).collect()}
    assert len({comm[v] for v in range(1, 5)}) == 1
    assert len({comm[v] for v in range(11, 15)}) == 1
    assert comm[1] != comm[11]
    cc = {r.node: r.cluster for r in connected_components(df).collect()}
    assert cc[1] == cc[11]  # the contrast LPA exists for


def test_lpa_partition_invariance_and_checkpoint(spark, tmp_path):
    from sales_data_pipeline_spark.operators.graph import label_propagation

    edges = [(i, i + 1) for i in range(1, 30)] + [(5, 20), (7, 25)]
    df1 = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(1)
    df2 = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(16)
    r1 = {r.node: r.community for r in label_propagation(df1, iters=4).collect()}
    r2 = {r.node: r.community for r in label_propagation(df2, iters=4).collect()}
    assert r1 == r2
    r3 = {
        r.node: r.community
        for r in label_propagation(
            df1, iters=4, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert r1 == r3


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------


def test_kcore_chain_vanishes_cycle_survives(spark):
    from sales_data_pipeline_spark.operators.graph import k_core

    chain = [(i, i + 1) for i in range(1, 6)]
    cycle = [(10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(chain + cycle, "doc_a long, doc_b long")
    got = {r.node: r.degree for r in k_core(df, k=2).collect()}
    assert got == {10: 2, 11: 2, 12: 2}


def test_kcore_cascade_peel_and_pendant(spark):
    from sales_data_pipeline_spark.operators.graph import k_core

    # triangle {1,2,3} with a pendant path 3-4-5: removing 5 (deg 1)
    # exposes 4 (deg 1) — the cascade the fixpoint exists for
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node for r in k_core(df, k=2).collect()}
    assert got == {1, 2, 3}
    # k=3: even the triangle dies
    assert k_core(df, k=3).count() == 0


def test_triangle_counts_guard_transparent_fires_and_lazy(spark):
    """r10 dense-component guard on the triangle wedge join (the one
    graph consumer past the 5× bar in the SKEW graph_consumers
    measurement: 3.26e8 wedges / 325× on the 64-mega-cluster corpus).
    Default must equal the unguarded result under budget; an
    over-budget graph must die naming max_wedges; constructing /
    explaining the guarded plan must run no Spark job."""
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.graph import triangle_counts

    # two triangles sharing edge (1,2) + a pendant: known counts
    edges = [(1, 2), (2, 3), (1, 3), (2, 4), (1, 4), (4, 5)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {1: 2, 2: 2, 3: 1, 4: 1}
    free = {
        r.node: r.n_triangles
        for r in triangle_counts(df, max_wedges=None).collect()
    }
    default = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert free == default == want

    # a K8 clique: wedges = sum in*out per middle node = 56 > budget 10
    clique = [(a, b) for a in range(8) for b in range(a + 1, 8)]
    dense = spark.createDataFrame(clique, "doc_a long, doc_b long")
    with _pytest.raises(Exception, match="max_wedges"):
        triangle_counts(dense, max_wedges=10).collect()

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    triangle_counts(dense, max_wedges=10).explain()
    assert tracker.getJobIdsForGroup(None) == before


def test_wedge_estimate_equals_actual_wedge_join_count(spark):
    """The triangle guard's budget quantity (Σ_y in-deg·out-deg, also
    q291's n_wedges) must be EXACTLY the wedge join's output row count
    — it is an identity, not an estimate; random graphs pin it."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    for trial in range(3):
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(30), 2)))
                for _ in range(rng.randint(10, 80))
            }
        )
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        e1 = df.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
        e2 = df.select(F.col("doc_a").alias("y"), F.col("doc_b").alias("z"))
        actual = e1.join(e2, "y").count()
        ind = df.groupBy(F.col("doc_b").alias("y")).agg(
            F.count(F.lit(1)).alias("d_in")
        )
        outd = df.groupBy(F.col("doc_a").alias("y")).agg(
            F.count(F.lit(1)).alias("d_out")
        )
        est = (
            ind.join(outd, "y")
            .agg(F.coalesce(F.sum(F.col("d_in") * F.col("d_out")), F.lit(0)))
            .first()[0]
        )
        assert est == actual, (trial, est, actual)


def test_kcore_degree_measured_in_core_and_checkpoint(spark, tmp_path):
    from sales_data_pipeline_spark.operators.graph import k_core

    # clique of 4 with two pendant vertices on node 1: core degrees
    # must come from the POST-peel graph (1's degree is 3, not 5)
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = clique + [(1, 100), (1, 101)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.degree for r in k_core(df, k=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    ck = {
        r.node: r.degree
        for r in k_core(
            df, k=2, checkpoint_dir=str(tmp_path / "ck")
        ).collect()
    }
    assert ck == got


# ---------------------------------------------------------------------------
# Bloom-filter dedup gate (operators/sketch.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark, docs):
    """Every fingerprint folded into the filter MUST probe maybe_seen
    — the invariant that lets an incremental dedup gate trust a
    'definitely new' verdict."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build, bloom_gate

    fps = docs.select(F.md5("text").alias("fp"))
    bitmap = bloom_build(fps, "fp")
    probed = bloom_gate(bitmap, fps, "fp")
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_false_positive_rate_bounded(spark, docs):
    """Unseen keys pass the gate at ≈(1−e^{−kn/m})^k; at n≈500,
    m=2^20, k=5 that is ~1e-12 — assert a generous 1% ceiling over a
    500-key probe set, and that at a deliberately tiny m the gate
    degrades to mostly-maybe_seen (sizing matters, the math is live)."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build, bloom_gate

    seen = docs.select(F.md5("text").alias("fp"))
    unseen = docs.select(F.md5(F.concat(F.lit("novel:"), "text")).alias("fp"))
    bitmap = bloom_build(seen, "fp")
    fp_hits = bloom_gate(bitmap, unseen, "fp").filter("maybe_seen").count()
    n_probe = unseen.distinct().count()
    assert fp_hits / n_probe <= 0.01
    tiny = bloom_build(seen, "fp", m_bits=1024)
    tiny_hits = bloom_gate(tiny, unseen, "fp", m_bits=1024).filter("maybe_seen").count()
    assert tiny_hits / n_probe > 0.5  # saturated filter ≈ all maybe_seen


def test_bloom_gate_agrees_with_exact_anti_join(spark, docs):
    """q219's contract: the definitely-new set is a SUBSET of the
    exact anti-join's new set (no false negatives ⇒ nothing known
    sneaks through), and at the default sizing it equals it (FP≈0)."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build, bloom_gate

    all_fp = docs.select("doc_id", F.md5("text").alias("fp"))
    hist = all_fp.filter(F.col("doc_id") % 10 != 0).select("fp")
    exact_new = {
        r.doc_id
        for r in all_fp.join(hist.distinct(), "fp", "left_anti").collect()
    }
    bitmap = bloom_build(hist, "fp")
    gated = bloom_gate(bitmap, all_fp, "fp")
    got = {
        r.doc_id
        for r in all_fp.join(gated, "fp").filter(~F.col("maybe_seen")).collect()
    }
    assert got <= exact_new
    assert got == exact_new  # default m/k: zero FPs at this scale


def test_bloom_bitmap_is_bounded_and_mergeable(spark, docs):
    """The bitmap table never exceeds m/64 rows regardless of input
    size, and building from two halves then OR-merging equals one
    build — the mergeability that makes the fold map-side safe."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build

    fps = docs.select(F.md5("text").alias("fp"))
    m = 1 << 14
    whole = bloom_build(fps, "fp", m_bits=m)
    assert whole.count() <= m // 64
    h1 = bloom_build(fps.filter(F.crc32("fp") % 2 == 0), "fp", m_bits=m)
    h2 = bloom_build(fps.filter(F.crc32("fp") % 2 == 1), "fp", m_bits=m)
    merged = (
        h1.unionByName(h2)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
    assert diff == 0


# ---------------------------------------------------------------------------
# Duplication index (q224) — MinHash collision estimator of mean Jaccard
# ---------------------------------------------------------------------------


def test_duplication_index_matches_exact_mean_jaccard(spark, docs, sf_dir):
    """The collision-rate estimator must land within 0.005 of the
    exact all-pairs mean Jaccard (feasible to compute directly at
    sf0.01's 500 docs)."""
    from itertools import combinations

    from sales_data_pipeline_spark.operators.dedup import _shingle_sets
    from sales_data_pipeline_spark.plans import QUERIES

    sets = {
        r.doc: set(r.sh)
        for r in _shingle_sets(docs, "doc_id", "text", 3).collect()
    }
    ids = sorted(sets)
    total, n_pairs = 0.0, 0
    for a, b in combinations(ids, 2):
        sa, sb = sets[a], sets[b]
        if sa or sb:
            total += len(sa & sb) / len(sa | sb)
        n_pairs += 1
    exact = total / n_pairs
    est = QUERIES["q224_duplication_index"].fn(spark, sf_dir).first()
    assert est.n_docs == len(ids)
    assert abs(est.mean_jaccard_est - exact) < 0.005, (est.mean_jaccard_est, exact)


def test_duplication_index_exact_on_planted_corpus(spark):
    """Identical docs collide on every permutation, disjoint docs on
    none: a 4-doc corpus with one identical pair and otherwise
    disjoint shingles has mean Jaccard exactly 1/6, and the estimator
    must hit it exactly (no sampling noise in either direction)."""
    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.operators.dedup import minhash_signatures
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
            (4, "red orange yellow green blue indigo"),
        ],
        "doc_id long, text string",
    )
    num_perm = 64
    sig = minhash_signatures(corpus, "doc_id", "text", num_perm=num_perm)
    stacked = sig.select(
        F.posexplode(F.array(*[F.col(f"h{i}") for i in range(num_perm)])).alias(
            "perm", "v"
        )
    )
    est = (
        stacked.groupBy("perm", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy("perm")
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("coll"))
        .agg(F.avg(F.col("coll") / 6.0).alias("j"))
        .first()
        .j
    )
    assert est == pytest.approx(1.0 / 6.0, abs=1e-12)


def test_ngram_jaccard_candidate_guard_fails_fast(spark):
    """The exact (quadratic) tier must refuse blind calls whose prefix
    index implies a candidate blow-up: the in-plan guard raises at
    EXECUTION (construction/explain stay lazy and job-free), the error
    names minhash_lsh_pairs and the estimate, and defaults leave small
    corpora untouched."""
    import pytest as _pytest

    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    # 30 identical docs: every prefix shingle lands in every doc
    # -> est = C(30,2) = 435 raw pairs on the single indexed shingle
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(30)],
        "doc_id long, text string",
    )
    guarded = ngram_jaccard_pairs(
        docs, threshold=0.9, max_candidates=100, persist=False
    )
    guarded.explain()  # lazy: constructing/explaining runs no guard
    with _pytest.raises(Exception, match="minhash_lsh_pairs"):
        guarded.count()
    # defaults: results intact on a small corpus
    n = ngram_jaccard_pairs(docs, threshold=0.9, persist=False).count()
    assert n == 30 * 29 // 2  # identical docs: every pair at J=1
    # None skips the guard entirely
    n2 = ngram_jaccard_pairs(
        docs, threshold=0.9, max_candidates=None, persist=False
    ).count()
    assert n2 == n


def test_incremental_dedup_bucketed_history_no_history_exchange(spark, sf_dir):
    """The docstring's exchange-free claim, pinned: with the fingerprint
    index written bucketed by fp (DataFrameWriter.bucketBy),
    incremental_dedup's anti join must show NO Exchange on the history
    side — ingesting a batch shuffles ONLY the batch. Also checks the
    dedup result itself against the unbucketed path."""
    from sales_data_pipeline_spark.operators.dedup import (
        fingerprint,
        incremental_dedup,
    )

    spark.catalog.clearCache()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = table(spark, sf_dir, "documents")
        history = docs.filter(F.col("doc_id") % 3 == 0).select(
            fingerprint("text").alias("fp")
        )
        history.write.mode("overwrite").bucketBy(32, "fp").sortBy("fp").saveAsTable(
            "t_fp_history_b"
        )
        batch = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
        surv_bucketed = incremental_dedup(batch, spark.table("t_fp_history_b"))
        plan = surv_bucketed._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "t_fp_history_b" in plan, plan
        # structural proof: vs the identical query over UNBUCKETED
        # history, the bucketed plan has exactly ONE fewer Exchange —
        # the history side's (the batch side keeps its shuffles), and
        # the history subtree reads Sort->Project->Filter->FileScan
        surv_plain = incremental_dedup(batch, history.select("fp"))
        plain_plan = surv_plain._jdf.queryExecution().executedPlan().toString()
        n_bucketed = plan.count("Exchange hashpartitioning")
        n_plain = plain_plan.count("Exchange hashpartitioning")
        assert n_bucketed == n_plain - 1, (plan, plain_plan)
        # the bucketed scan feeds the anti join through no Exchange:
        # scan line up to the join shows only Sort/Project/Filter
        scan_pos = plan.find("t_fp_history_b")
        history_subtree = plan[plan.rfind("+- Sort", 0, scan_pos) : scan_pos]
        assert "Exchange" not in history_subtree, history_subtree
        # equivalence with the plain (unbucketed) history path
        got = sorted(r.doc_id for r in surv_bucketed.collect())
        want = sorted(r.doc_id for r in surv_plain.collect())
        assert got == want and len(got) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_fp_history_b")


def test_edit_neardup_blocking_equals_brute_force(spark, sf_dir):
    """q250's length-key blocking must be lossless: candidates from the
    length-band equi-join, verified by exact Levenshtein, must equal
    the all-pairs answer computed by brute force on the same names."""
    from sales_data_pipeline_spark.plans import QUERIES

    got = {
        (r.name_a, r.name_b, r.edit_distance)
        for r in QUERIES["q250_name_edit_neardup"].fn(spark, sf_dir).collect()
    }
    names = [
        r.p_name
        for r in table(spark, sf_dir, "part").select("p_name").distinct().collect()
    ]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    brute = {
        (a, b, lev(a, b))
        for i, a in enumerate(sorted(names))
        for b in sorted(names)[i + 1 :]
        if lev(a, b) <= 2
    }
    assert got == brute and brute


def test_simhash_exact_duplicates_always_pair(spark):
    """Identical texts → identical signatures → hamming 0: every
    exact-duplicate pair MUST appear in the blocked near-pair output
    regardless of threshold (the q275 theorem, planted here so it is
    exercised at every suite run, not only at SFs dense enough to
    carry raw-byte duplicates)."""
    from sales_data_pipeline_spark.operators.dedup import simhash_near_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (2, "an entirely different document about spark plans"),
        (3, "an entirely different document about spark plans"),  # dup of 2
        (4, "an entirely different document about spark plans"),  # dup of 2
        (5, "a third text with no duplicate partner anywhere"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(docs, max_hamming=0).collect()
    }
    assert {(0, 1), (2, 3), (2, 4), (3, 4)} <= got


# ---------------------------------------------------------------------------
# PassJoin edit-distance blocking (edit_neardup_pairs)
# ---------------------------------------------------------------------------


def _brute_lev_pairs(vals, k):
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for x, y in itertools.combinations(sorted(set(vals)), 2):
        d = lev(x, y)
        if d <= k:
            out.add((x, y, d))
    return out


@pytest.mark.parametrize("k", [1, 2])
def test_edit_neardup_pairs_matches_brute_force(spark, k):
    """PassJoin segment blocking loses ZERO recall vs the O(n²) DP,
    including the adversarial cases: front insertions/deletions (the
    maximal segment shift), edits inside every segment position, equal
    strings of different lengths, and sub-(k+1)-length strings through
    the side path."""
    import random

    from sales_data_pipeline_spark.operators.dedup import edit_neardup_pairs

    rnd = random.Random(11)
    base = ["brushed lavender steel anvil", "polished mint copper plate",
            "aa", "ab", "b", "abcdef"]
    vals = set(base)
    for s in list(base) * 4:
        t = s
        for _ in range(rnd.randint(1, k)):
            op = rnd.choice("ins del sub".split())
            p = rnd.randint(0, max(len(t) - 1, 0))
            c = rnd.choice("abcxyz ")
            if op == "ins":
                t = t[:p] + c + t[p:]
            elif op == "del" and t:
                t = t[:p] + t[p + 1:]
            else:
                t = t[:p] + c + t[p + 1:] if t else c
        if t:
            vals.add(t)
    # explicit front-shift adversaries
    vals |= {"xx" + base[0], base[0][2:], "q" + base[1], base[1][1:]}
    df = spark.createDataFrame([(v,) for v in vals], "p_name string")
    got = {
        (r.name_a, r.name_b, r.edit_distance)
        for r in edit_neardup_pairs(df, "p_name", k=k).collect()
    }
    assert got == _brute_lev_pairs(vals, k)


def test_edit_neardup_pairs_rejects_bad_k(spark):
    from sales_data_pipeline_spark.operators.dedup import edit_neardup_pairs

    df = spark.createDataFrame([("x",)], "p_name string")
    with pytest.raises(ValueError, match="k must be"):
        edit_neardup_pairs(df, "p_name", k=0)


# --- triangle_count_estimate (q294: DOULION past the wedge fence) ----------


def _clique_edges(spark, n_cliques: int, m: int):
    """Canonical a<b edge list of n_cliques disjoint K_m cliques:
    exactly n_cliques * C(m,3) triangles, known in closed form."""
    rows = [
        (c * m + i, c * m + j)
        for c in range(n_cliques)
        for i in range(m)
        for j in range(i + 1, m)
    ]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_triangle_estimate_exact_mode_is_exact(spark):
    """Under the wedge budget, p clamps to exactly 1.0 and the SAME
    plan computes the exact count — no switch, no approximation."""
    from sales_data_pipeline_spark.operators.graph import (
        triangle_count_estimate,
        triangle_counts,
    )

    edges = _clique_edges(spark, 3, 5)  # 3*C(5,3) = 30 triangles
    got = triangle_count_estimate(edges).collect()[0]
    assert got.exact_mode is True and got.sample_p == 1.0
    assert got.n_triangles_sampled == 30 and got.est_triangles == 30.0
    # identity vs the exact tier: sum of per-node counts = 3T
    per_node = triangle_counts(edges).agg(F.sum("n_triangles")).collect()[0][0]
    assert per_node == 3 * 30


def test_triangle_estimate_unbiased_across_salts(spark):
    """DOULION's estimator audit (the q259 pattern): on a planted graph
    with a known count, forced-sampled estimates averaged over
    independent salts converge on the truth. Deterministic: the
    md5-salted samples never change, so the observed mean is pinned."""
    from sales_data_pipeline_spark.operators.graph import triangle_count_estimate

    # 30 disjoint K8: T = 30*56 = 1680, W = 30*56 = 1680 wedges
    edges = _clique_edges(spark, 30, 8).cache()
    truth = 1680.0
    ests = []
    for salt in range(12):
        r = triangle_count_estimate(
            edges, target_wedges=420, salt=str(salt)
        ).collect()[0]
        assert r.exact_mode is False
        assert r.sample_p == pytest.approx(0.5)  # sqrt(420/1680)
        ests.append(r.est_triangles)
    mean = sum(ests) / len(ests)
    # per-estimate std ~11% here; mean of 12 ~3% — 10% is ~3 sigma,
    # and the draws are deterministic so this never flakes
    assert mean == pytest.approx(truth, rel=0.10)
    # every single estimate lands in a sane envelope (not degenerate)
    assert all(0.4 * truth < e < 1.8 * truth for e in ests)
    edges.unpersist()


def test_triangle_estimate_serves_past_the_exact_fence(spark):
    """The round-11 contract: a graph whose wedge census exceeds the
    exact tier's budget gets a REFUSAL from triangle_counts but a
    bounded-time ANSWER from the estimate — same input, same census."""
    from sales_data_pipeline_spark.operators.graph import (
        triangle_count_estimate,
        triangle_counts,
    )

    # 4 disjoint K16: W = 4 * sum_i i(15-i) = 4*560 = 2240 wedges
    edges = _clique_edges(spark, 4, 16).cache()
    with pytest.raises(Exception, match="max_wedges"):
        triangle_counts(edges, max_wedges=1000).write.format("noop").mode(
            "overwrite"
        ).save()
    got = triangle_count_estimate(edges, target_wedges=1000).collect()[0]
    assert got.exact_mode is False and got.n_wedges == 2240
    truth = 4 * 560.0  # C(16,3) = 560
    assert got.est_triangles == pytest.approx(truth, rel=0.5)
    edges.unpersist()


def test_triangle_estimate_empty_and_wedgeless_graphs(spark):
    """Zero-wedge inputs (empty graph; a single disjoint edge set with
    no length-2 path) must answer 0 exactly, not divide by zero."""
    from sales_data_pipeline_spark.operators.graph import triangle_count_estimate

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    r = triangle_count_estimate(empty).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles_sampled) == (0, 0, 0)
    assert r.est_triangles == 0.0 and r.exact_mode is True
    # matching: a perfect matching has edges but zero wedges
    matching = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    r = triangle_count_estimate(matching).collect()[0]
    assert (r.n_edges, r.n_wedges) == (3, 0)
    assert r.est_triangles == 0.0 and r.exact_mode is True


def test_shingle_cooccurrence_edges_hand_case(spark):
    """Two docs sharing a 3-gram pair up; unrelated docs don't; the
    df cap drops a ubiquitous shingle's edges."""
    from sales_data_pipeline_spark.operators.dedup import (
        shingle_cooccurrence_edges,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a lazy dog sat quietly today"),
            (3, "the quick brown cat sleeps"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in shingle_cooccurrence_edges(docs).collect()
    }
    assert got == {(1, 3)}  # share 'the quick brown'
    # cap = 1: every shared shingle (df=2) now exceeds the cap
    got = shingle_cooccurrence_edges(docs, max_shingle_freq=1).count()
    assert got == 0


def test_triangle_estimate_exact_mode_matches_python_reference_random(spark):
    """Exact-mode identity on randomized graphs (deterministic seed):
    under the wedge budget the estimate IS the exact global triangle
    count — pinned against a brute-force python counter."""
    import itertools
    import random

    from sales_data_pipeline_spark.operators.graph import triangle_count_estimate

    rng = random.Random(294)
    for trial in range(3):
        n = rng.randint(6, 14)
        edges = sorted(
            {
                (a, b)
                for a, b in (
                    tuple(sorted(rng.sample(range(n), 2)))
                    for _ in range(rng.randint(5, 30))
                )
            }
        )
        eset = set(edges)
        truth = sum(
            1
            for x, y, z in itertools.combinations(range(n), 3)
            if (x, y) in eset and (y, z) in eset and (x, z) in eset
        )
        r = triangle_count_estimate(
            spark.createDataFrame(edges, "doc_a long, doc_b long")
        ).collect()[0]
        assert r.exact_mode is True, trial
        assert r.n_triangles_sampled == truth, (trial, edges)
        assert r.est_triangles == float(truth), trial


# --- jaccard_pair_estimate (q297: the PPJoin fence's served census) --------


def test_jaccard_estimate_exact_mode_matches_exact_tier(spark):
    """Under the co-occurrence budget p clamps to 1 and the SAME plan
    counts the exact tier's pairs exactly."""
    from sales_data_pipeline_spark.operators.dedup import (
        jaccard_pair_estimate,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
            (4, "totally different words in this document here now"),
        ],
        "doc_id long, text string",
    )
    truth = ngram_jaccard_pairs(docs, threshold=0.6, persist=False).count()
    got = jaccard_pair_estimate(docs, threshold=0.6).collect()[0]
    assert got.exact_mode is True and got.sample_p == 1.0
    assert got.n_pairs_sampled == truth
    assert got.est_pairs == float(truth)
    assert got.n_docs == 4


def _planted_pair_corpus(spark, n_pairs: int):
    """n_pairs disjoint near-dup pairs (J ~ 10/11), no cross-pair
    shingle overlap: exactly n_pairs true pairs at threshold 0.6."""
    rows = []
    for i in range(n_pairs):
        base = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_estimate_unbiased_across_salts(spark):
    """q259/q294's estimator-audit pattern: forced-sampled estimates
    averaged over independent salts converge on the planted truth.
    Deterministic — the md5 samples never change."""
    from sales_data_pipeline_spark.operators.dedup import jaccard_pair_estimate

    docs = _planted_pair_corpus(spark, 60).cache()
    ests = []
    for salt in range(10):
        r = jaccard_pair_estimate(
            docs, threshold=0.6, target_cooccur=150, salt=str(salt)
        ).collect()[0]
        assert r.exact_mode is False and 0 < r.sample_p < 1
        ests.append(r.est_pairs)
    mean = sum(ests) / len(ests)
    assert mean == pytest.approx(60.0, rel=0.25)
    docs.unpersist()


def test_jaccard_estimate_serves_past_the_exact_fence(spark):
    """The trilogy contract for q22's tier: a corpus whose candidate
    volume the exact tier refuses gets an ANSWER from the sampled
    census — same budget figure, bounded work."""
    from sales_data_pipeline_spark.operators.dedup import (
        jaccard_pair_estimate,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(30)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(
            docs, threshold=0.9, max_candidates=100, persist=False
        ).count()
    got = jaccard_pair_estimate(
        docs, threshold=0.9, target_cooccur=100
    ).collect()[0]
    assert got.exact_mode is False
    assert got.cooccur_candidates > 100  # the fence quantity, exceeded
    # 30 identical docs: C(30,2)=435 true pairs; the deterministic
    # sampled estimate lands in a sane envelope
    assert 100 < got.est_pairs < 1600


def test_jaccard_estimate_empty_and_shingleless(spark):
    from sales_data_pipeline_spark.operators.dedup import jaccard_pair_estimate

    empty = spark.createDataFrame([], "doc_id long, text string")
    r = jaccard_pair_estimate(empty).collect()[0]
    assert (r.n_docs, r.cooccur_candidates, r.n_pairs_sampled) == (0, 0, 0)
    assert r.est_pairs == 0.0 and r.exact_mode is True
    short = spark.createDataFrame(
        [(1, "one two"), (2, "a b")], "doc_id long, text string"
    )  # no 3-gram shingles at all
    r = jaccard_pair_estimate(short).collect()[0]
    assert (r.n_docs, r.cooccur_candidates, r.n_pairs_sampled) == (2, 0, 0)
    assert r.exact_mode is True
