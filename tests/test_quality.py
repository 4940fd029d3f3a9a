"""Corpus-quality operators: repetition, contamination, stratified
sampling — edge cases the oracle-parity sweep can't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators.quality import (
    contamination,
    repetition_stats,
    stratified_sample,
)


def test_repetition_stats_hand_case(spark):
    """'a b a b a' → 2-grams [ab, ba, ab, ba]: 4 total, 2 distinct,
    top count 2 → dup 0.5, top 0.5. A no-repeat doc scores 0.0; a doc
    of one repeated token scores dup → 1-1/n."""
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "w x y z"), (3, "t t t t t"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    assert (got[1].n_grams, got[1].n_distinct_grams, got[1].top_gram_count) == (4, 2, 2)
    assert got[1].dup_gram_frac == 0.5 and got[1].top_gram_frac == 0.5
    assert got[2].dup_gram_frac == 0.0
    assert (got[3].n_grams, got[3].n_distinct_grams) == (4, 1)
    assert got[3].dup_gram_frac == 0.75
    assert 4 not in got  # single-token doc has no 2-grams


def test_contamination_counts_distinct_overlap(spark):
    """Overlap counts DISTINCT shingles; repeats in either side must not
    inflate; zero-overlap and too-short docs report rate 0.0."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps away from here now"),  # shares 1 5-gram
            (2, "completely different words in this document here yes"),
            (3, "tiny doc"),  # < 5 tokens → 0 shingles
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in contamination(corpus, bench, n=5).collect()}
    assert got[1].n_overlap == 1 and got[1].n_shingles == 5
    assert got[1].contamination_rate == pytest.approx(0.2)
    assert got[2].n_overlap == 0 and got[2].contamination_rate == 0.0
    assert got[3].n_shingles == 0 and got[3].contamination_rate == 0.0


def test_repetition_stats_matches_python_reference_random_docs(spark):
    """Property: counts agree with a pure-Python 2-gram counter on
    random small-vocab docs (small vocab forces heavy repetition)."""
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    for i, text in docs:
        toks = text.split(" ")
        grams = Counter(zip(toks, toks[1:]))
        if not grams:
            assert i not in got
            continue
        r = got[i]
        assert r.n_grams == sum(grams.values())
        assert r.n_distinct_grams == len(grams)
        assert r.top_gram_count == max(grams.values())


def test_contamination_matches_python_reference_random_docs(spark):
    import random

    rng = random.Random(43)
    vocab = [f"w{j}" for j in range(12)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    bench_docs = [(100 + i, mk(rng.randint(5, 20))) for i in range(5)]
    corpus_docs = [(i, mk(rng.randint(1, 20))) for i in range(30)]
    bench = spark.createDataFrame(bench_docs, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    got = {r.doc_id: r for r in contamination(corpus, bench, n=5).collect()}

    def sh5(text):
        t = text.split(" ")
        return {tuple(t[i : i + 5]) for i in range(len(t) - 4)}

    vocab_sh = set().union(*(sh5(t) for _, t in bench_docs))
    for i, text in corpus_docs:
        s = sh5(text)
        assert got[i].n_shingles == len(s)
        assert got[i].n_overlap == len(s & vocab_sh)


def test_char_entropy_extremes(spark):
    """Degenerate text scores 0 (one symbol); uniform alphabet scores
    ln(k); ordering matches the information content."""
    import math

    from sales_data_pipeline_spark.operators.quality import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefgh"), (3, "aabb")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert got[1].entropy == 0.0 and got[1].n_distinct_chars == 1
    assert got[2].entropy == round(math.log(8), 6)
    assert got[3].entropy == round(math.log(2), 6)
    assert got[2].n_chars == 8


def test_winnowing_guarantee_shared_substring(spark):
    """The winnowing contract: two docs sharing a substring of length
    ≥ k+w-1 (here 11) MUST share at least one fingerprint; a doc pair
    with no shared 8-gram shares none."""
    from sales_data_pipeline_spark.operators.text import winnow_fingerprints

    shared = "abcdefghijklmnop"  # 16 chars >> 11
    df = spark.createDataFrame(
        [
            (1, "XXXX" + shared + "YYYY"),
            (2, "QQ" + shared + "RRRRRR"),
            (3, "zyxwvutsrq0987654321"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: set(r.fp) for r in winnow_fingerprints(df, k=8, w=4).collect()}
    assert fps[1] & fps[2], "shared substring produced no common fingerprint"
    assert not (fps[1] & fps[3])
    assert all(len(v) > 0 for v in fps.values())


def test_winnowing_short_doc_empty(spark):
    from sales_data_pipeline_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame([(1, "short"), (2, "elevenchars")], "doc_id long, text string")
    got = {r.doc_id: list(r.fp) for r in winnow_fingerprints(df, k=8, w=4).collect()}
    assert got[1] == []  # < k chars: no k-grams at all
    assert len(got[2]) >= 1  # 11 chars = k+w-1: exactly one window


def test_group_split_no_source_straddles_splits(spark, sf_dir):
    from sales_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["q59_group_split"].fn(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, set()).add(r.split)
    assert all(len(s) == 1 for s in by_source.values()), by_source


def test_lang_id_multi_argmax_and_ties(spark):
    from sales_data_pipeline_spark.operators.text import lang_id_multi

    df = spark.createDataFrame(
        [
            (1, "the cat is of the house and the dog"),   # en
            (2, "der hund ist nicht die katze und der"),  # de
            (3, "le chat est la maison et le chien"),     # fr
            (4, "xyz qqq zzz www rrr ttt yyy uuu"),       # none -> other
            (5, "the der"),  # en ratio == de ratio -> lexicographically first = de
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred for r in df.select(
        "doc_id", lang_id_multi("text").alias("pred")
    ).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "other", 5: "de"}


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("source"),
    )
    kept = stratified_sample(df, "source", {"small": 8}, default_16ths=2)
    again = stratified_sample(df, "source", {"small": 8}, default_16ths=2)
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    by_src = {
        r.source: r.n
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # 1000 rows per stratum: small ≈ 8/16 = 500, big ≈ 2/16 = 125 (md5-uniform)
    assert 400 < by_src["small"] < 600
    assert 75 < by_src["big"] < 185
    with pytest.raises(ValueError, match="sixteenths"):
        stratified_sample(df, "source", {"small": 99}, default_16ths=2)


def test_stratified_sample_stable_under_repartition(spark):
    """The keep-set must not depend on physical layout (the sampleBy
    failure mode this operator exists to avoid)."""
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"), F.lit("s").alias("src"))
    a = {r.doc_id for r in stratified_sample(df, "src", {}, default_16ths=4).collect()}
    b = {
        r.doc_id
        for r in stratified_sample(df.repartition(17), "src", {}, default_16ths=4).collect()
    }
    assert a == b


def test_token_chunks_shapes(spark):
    """Disjoint chunks partition the token stream exactly (concat of
    chunks == original text); overlapping stride emits a window every
    stride tokens with the tail short; chunk_id is the window index."""
    from sales_data_pipeline_spark.operators.text import token_chunks

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    disjoint = {
        r.doc_id: r.ch
        for r in df.select("doc_id", token_chunks("text", size=3).alias("ch")).collect()
    }
    assert [(c.chunk_id, c.chunk, c.n_tokens) for c in disjoint[1]] == [
        (0, "a b c", 3),
        (1, "d e f", 3),
        (2, "g", 1),
    ]
    assert " ".join(c.chunk for c in disjoint[1]) == "a b c d e f g"
    assert [(c.chunk, c.n_tokens) for c in disjoint[2]] == [("x", 1)]
    # split('') yields [''] — one empty chunk, same as the DuckDB oracle
    assert [c.chunk for c in disjoint[3]] == [""]

    overlap = (
        df.filter("doc_id = 1")
        .select(token_chunks("text", size=4, stride=2).alias("ch"))
        .collect()[0]
        .ch
    )
    assert [(c.chunk_id, c.chunk) for c in overlap] == [
        (0, "a b c d"),
        (1, "c d e f"),
        (2, "e f g"),
        (3, "g"),
    ]

    with pytest.raises(ValueError):
        token_chunks("text", size=0)


def test_remove_boilerplate_planted(spark):
    """A license header planted in 3 docs disappears from all of them;
    unique chunks survive in order; an all-boilerplate doc is kept with
    empty clean text."""
    from sales_data_pipeline_spark.operators.quality import remove_boilerplate

    header = "mit license do not remove"  # 5 tokens -> one 5-token chunk... use size 5
    rows = [
        (1, header + " alpha beta gamma delta epsilon"),
        (2, header + " one two three four five"),
        (3, header),  # nothing but boilerplate
        (4, "totally unique document body here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in remove_boilerplate(df, chunk_size=5, min_docs=2).collect()
    }
    assert len(got) == 4  # every input doc reported
    assert got[1].clean_text == "alpha beta gamma delta epsilon"
    assert got[2].clean_text == "one two three four five"
    assert (got[3].n_chunks, got[3].n_kept, got[3].clean_text) == (1, 0, "")
    assert got[4].clean_text == "totally unique document body here"
    assert got[1].n_dropped == 1 and got[4].n_dropped == 0


def test_remove_boilerplate_reassembly_order(spark):
    """Surviving chunks reassemble by chunk_id regardless of which
    chunks were dropped in between."""
    from sales_data_pipeline_spark.operators.quality import remove_boilerplate

    # 2-token chunks; "BP BP" planted between unique chunks in both docs
    rows = [(1, "u1 u2 BP BP u3 u4"), (2, "v1 v2 BP BP v3 v4")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in remove_boilerplate(df, chunk_size=2, min_docs=2).collect()}
    assert got[1].clean_text == "u1 u2 u3 u4"
    assert got[2].clean_text == "v1 v2 v3 v4"


def test_weighted_sample_exact_semantics(spark):
    """weight 0 keeps nothing, 1 keeps everything; fractional weights
    keep a stable, re-run-identical subset at roughly the right rate."""
    from sales_data_pipeline_spark.operators.quality import weighted_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    assert weighted_sample(df.withColumn("w", F.lit(0.0)), "w").count() == 0
    assert weighted_sample(df.withColumn("w", F.lit(1.0)), "w").count() == 2000
    half = df.withColumn("w", F.lit(0.5))
    a = sorted(r.doc_id for r in weighted_sample(half, "w").collect())
    b = sorted(r.doc_id for r in weighted_sample(half.repartition(7), "w").collect())
    assert a == b  # deterministic under repartitioning
    assert 850 <= len(a) <= 1150  # ~Binomial(2000, .5), ±>6σ slack


def test_js_divergence_bounds(spark, tmp_path):
    """Identical sources → JS 0; fully disjoint vocabularies → ln 2
    (the JS maximum); the exclusive-mass decomposition must recover the
    disjoint case even though the shared join emits NO rows for it —
    regression guard for the no-outer-grid formulation."""
    import math

    from sales_data_pipeline_spark.plans import QUERIES

    rows = [
        (1, "x y z x", "same_a", "en"),
        (2, "x y z x", "same_b", "en"),
        (3, "p q r s", "disj_a", "en"),
        (4, "t u v w", "disj_b", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    got = {
        (r.source_a, r.source_b): r.js_divergence
        for r in QUERIES["q71_source_js_divergence"].fn(spark, sf).collect()
    }
    assert got[("same_a", "same_b")] == 0.0
    # fully-disjoint vocabularies: zero shared terms, explicit JS = ln 2
    assert got[("disj_a", "disj_b")] == round(math.log(2.0), 6)
    assert len(got) == 6  # every source pair reported
    for js in got.values():
        assert 0.0 <= js <= round(math.log(2.0), 6) + 1e-9


# ---------------------------------------------------------------------------
# count-min sketch (q98 covering checks)
# ---------------------------------------------------------------------------


def test_countmin_never_undercounts_and_bounds_error(spark, sf_dir):
    """CM guarantees: estimate >= true count always; expected overcount
    <= 2N/w per row pair (Markov) — assert a loose 5x slack bound."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.sketch import (
        countmin_estimate,
        countmin_sketch,
    )

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    n_total = toks.count()
    sketch = countmin_sketch(toks, "tok", depth=4, width=1024)
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = countmin_estimate(sketch, truth.select("tok"), "tok", depth=4, width=1024)
    j = truth.join(est, "tok").collect()
    assert all(r.est >= r.true_cnt for r in j), "CM undercounted"
    mean_over = sum(r.est - r.true_cnt for r in j) / len(j)
    assert mean_over <= 5 * 2 * n_total / 1024, mean_over


def test_countmin_sketch_is_mergeable(spark, sf_dir):
    """Sketch(A ∪ B) == cellwise Sketch(A) + Sketch(B) — the property
    that makes map-side partial aggregation correct."""
    from sales_data_pipeline_spark.catalog import table
    from sales_data_pipeline_spark.operators.sketch import countmin_sketch

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    a = toks.filter(F.col("doc_id") % 2 == 0).select("tok")
    b = toks.filter(F.col("doc_id") % 2 == 1).select("tok")
    merged = (
        countmin_sketch(a, "tok").unionByName(countmin_sketch(b, "tok"))
        .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    whole = countmin_sketch(toks.select("tok"), "tok")
    diff = merged.join(whole, ["row", "bucket"], "full").filter(
        F.coalesce(merged["cnt"], F.lit(0)) != F.coalesce(whole["cnt"], F.lit(0))
    )
    assert diff.count() == 0
