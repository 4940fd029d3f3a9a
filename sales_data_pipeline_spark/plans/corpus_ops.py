"""Corpus-quality query catalog: repetition gates, eval-set
decontamination, and stratified source rebalancing (operators/quality.py).

All three are exact and fully oracle-checked — the Spark side counts
xxhash64 gram/shingle hashes where DuckDB counts the strings, equal
absent an intra-document 64-bit collision (~|S|²/2⁶⁵).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.quality import (
    char_entropy,
    contamination,
    remove_boilerplate,
    weighted_sample,
    repetition_stats,
    stratified_sample,
)
from sales_data_pipeline_spark.operators.scale import distributed_prefix_sum
from sales_data_pipeline_spark.operators.text import quality_score, token_chunks, token_count
from sales_data_pipeline_spark.plans.registry import query

_BENCH_SOURCE = "src1"  # stands in for an eval-benchmark document set


@query(
    "q53_repetition_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
    ),
    counts AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
      CAST(SUM(c) AS BIGINT) AS n_grams,
      COUNT(*) AS n_distinct_grams,
      CAST(MAX(c) AS BIGINT) AS top_gram_count,
      (CAST(SUM(c) AS BIGINT) - COUNT(*)) / CAST(SUM(c) AS BIGINT) AS dup_gram_frac,
      CAST(MAX(c) AS BIGINT) / CAST(SUM(c) AS BIGINT) AS top_gram_frac
    FROM counts GROUP BY doc_id
    """,
)
def q53_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-2gram and
    top-2gram fractions (the boilerplate/spam gates that run after
    dedup). Explode → two map-side-combined aggregations — linear, and
    a single pathological 100k-token document spreads across reducers
    instead of exploding one row."""
    docs = table(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2)


@query(
    "q54_contamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source, array_to_string(t[i:i+4], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> '{_BENCH_SOURCE}'),
    stats AS (
      SELECT c.doc_id, count(*) AS n_sh, count(b.shingle) AS n_ov
      FROM corpus c LEFT JOIN bench b USING (shingle)
      GROUP BY 1
    )
    SELECT d.doc_id,
      CAST(COALESCE(s.n_sh, 0) AS BIGINT) AS n_shingles,
      CAST(COALESCE(s.n_ov, 0) AS BIGINT) AS n_overlap,
      CASE WHEN COALESCE(s.n_sh, 0) > 0 THEN COALESCE(s.n_ov, 0) / s.n_sh
           ELSE 0.0 END AS contamination_rate
    FROM (SELECT doc_id FROM documents WHERE source <> '{_BENCH_SOURCE}') d
    LEFT JOIN stats s USING (doc_id)
    """,
)
def q54_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-benchmark decontamination census: distinct 5-gram shingle
    overlap of every non-benchmark doc against the benchmark source's
    shingle vocabulary (aggregated to distinct hashes BEFORE the join —
    build side is the benchmark vocabulary, broadcastable on a real
    cluster). Zero-overlap docs are reported with rate 0.0."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == _BENCH_SOURCE)
    corpus = docs.filter(F.col("source") != _BENCH_SOURCE)
    return contamination(corpus, bench, n=5)


@query(
    "q56_char_entropy",
    oracle="""
    WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
    cnt AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2)
    SELECT doc_id,
      CAST(sum(n) AS BIGINT) AS n_chars,
      COUNT(*) AS n_distinct_chars,
      round(ln(CAST(sum(n) AS DOUBLE))
            - sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
              / CAST(sum(n) AS DOUBLE), 6) AS entropy
    FROM cnt GROUP BY doc_id
    """,
)
def q56_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    perplexity proxy for filtering degenerate text (repeated chars,
    base64 blobs, template spam sit at the extremes). Closed form
    ln(t) − Σn·ln(n)/t: two shuffles, no join (plan-shape pinned).
    Rounded to 6 digits: float accumulation order varies with
    partitioning and 1e-15 noise must not flip the oracle hash
    (measured cross-engine max diff 1.8e-15 on this corpus)."""
    docs = table(spark, sf_dir, "documents")
    return char_entropy(docs)


@query(
    "q55_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE CASE WHEN source = '{_BENCH_SOURCE}'
      THEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('0','1','2','3')
      ELSE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('0','1') END
    """,
)
def q55_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (source rebalancing):
    '{bench}' kept at 4/16, everything else at 2/16, decided by the
    last hex digit of md5(doc_id) — same row kept on every run,
    partitioning, and engine (md5 is bit-portable, unlike sampleBy).
    Map-only: the filter rides the parquet scan."""
    docs = table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, strata_col="source", rates_16ths={_BENCH_SOURCE: 4}, default_16ths=2
    ).select("doc_id", "lang", "source")


@query(
    "q61_token_chunks",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS start FROM t)
    SELECT doc_id,
      start // 8 AS chunk_id,
      array_to_string(list_slice(toks, start + 1, start + 16), ' ') AS chunk,
      CAST(len(list_slice(toks, start + 1, start + 16)) AS BIGINT) AS n_tokens
    FROM s
    """,
)
def q61_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for retrieval / training-example prep:
    16-token windows every 8 tokens (50% overlap, the standard RAG
    stride), one row per chunk with its 0-based window index and actual
    length. Pure expression work (sequence/slice/inline) — chunking is
    a map stage bounded by the scan, no shuffle at any scale."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.inline(token_chunks("text", size=16, stride=8))
    )


@query(
    "q62_boilerplate_removal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 4)) AS start FROM t),
    c AS (SELECT doc_id, start // 4 AS chunk_id,
                 array_to_string(list_slice(toks, start + 1, start + 4), ' ') AS chunk
          FROM s),
    f AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY 1),
    tagged AS (SELECT c.doc_id, c.chunk_id, c.chunk, f.n_docs
               FROM c JOIN f USING (chunk))
    SELECT doc_id,
      COUNT(*) AS n_chunks,
      CAST(sum(CASE WHEN n_docs < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      coalesce(string_agg(CASE WHEN n_docs < 2 THEN chunk END, ' ' ORDER BY chunk_id), '')
        AS clean_text
    FROM tagged GROUP BY doc_id
    """,
)
def q62_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style corpus boilerplate removal with
    deterministic 4-token chunks standing in for paragraphs: any chunk
    text occurring in ≥2 distinct documents (headers, footers, license
    blocks — 11% of this corpus's chunks) is dropped everywhere, and
    documents are reassembled from their surviving chunks in order.
    Three linear shuffles (md5-key frequency agg, tag join, one
    conditional per-doc reassembly agg) — see
    operators/quality.py remove_boilerplate for the 100 TB plan notes."""
    docs = table(spark, sf_dir, "documents")
    return remove_boilerplate(docs, chunk_size=4, min_docs=2)


@query(
    "q65_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens,
      CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS seq_id
    FROM c
    """,
)
def q65_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in doc_id
    order and cut every 512 tokens — each document is assigned the
    training sequence its first token lands in. The running token total
    is the interesting part at scale: SUM OVER (ORDER BY) with no
    PARTITION BY funnels 100 TB through ONE reducer, so this uses the
    two-phase distributed prefix-sum (bucket-local running sums + tiny
    prefix-summed bucket offsets, operators/scale.py) — the oracle IS
    the naive global window, proving the decomposition exact."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", token_count("text").alias("n_tokens"))
    cum = distributed_prefix_sum(sized, "doc_id", "n_tokens", out_col="cum_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(512))
        .cast("bigint")
        .alias("seq_id"),
    )


_QUALITY_SQL = """
      (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END) * 0.4
      + (len(list_distinct(string_split(text,' '))) / len(string_split(text,' '))) * 0.3
      + least(len(list_filter(string_split(text,' '),
                x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
              / len(string_split(text,' ')) * 10.0, 1.0) * 0.3
"""


@query(
    "q66_weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, ({_QUALITY_SQL}) AS quality FROM documents
    )
    SELECT doc_id, source, quality FROM scored
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT::DOUBLE
          / 4503599627370496.0 < quality
    """,
)
def q66_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (DCLM-style data selection):
    each document survives with probability exactly equal to its [0,1]
    quality score, decided by a deterministic md5-derived uniform
    (13 hex digits = 52 bits, exact in a double) — bit-identical across
    engines, runs and partitionings. Map-only; the filter rides the
    scan (operators/quality.py weighted_sample)."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("quality")
    )
    return weighted_sample(scored, weight_col="quality")


@query(
    "q67_token_budget_selection",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        CAST(round(({_QUALITY_SQL}) * 1e9) AS BIGINT) AS q9
      FROM documents
    ),
    k AS (SELECT *, (1000000000 - q9) * 10000000 + doc_id AS ok FROM t),
    c AS (
      SELECT doc_id, q9, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY ok
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM k
    )
    SELECT doc_id, q9, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 15000
    """,
)
def q67_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection (take the BEST documents until the
    training budget is spent): rank by quality descending, accumulate
    token counts, keep while the running total fits 15k tokens. The
    ordering key packs (quality desc, doc_id) into one bigint —
    (1e9 − round(quality·1e9))·1e7 + doc_id (ids < 1e7 here; a real
    deployment widens the packing) — so the running total reuses the
    two-phase distributed prefix-sum: no single-partition window even
    though the selection order is global."""
    docs = table(spark, sf_dir, "documents")
    q9 = F.round(quality_score("text") * 1e9).cast("bigint")
    sized = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        q9.alias("q9"),
    ).withColumn(
        "ok", (F.lit(1000000000).cast("bigint") - F.col("q9")) * 10000000 + F.col("doc_id")
    )
    cum = distributed_prefix_sum(sized, "ok", "n_tokens", out_col="cum_tokens")
    return cum.filter(F.col("cum_tokens") <= 15000).select(
        "doc_id", "q9", "n_tokens", "cum_tokens"
    )


@query(
    "q70_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
        round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf, CAST(term_rank AS BIGINT) AS term_rank
    FROM ranked WHERE term_rank <= 3
    """,
)
def q70_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf
    ln((N+1)/(df+1)), rounded 6 digits — ln's last-ulp can differ
    across libm implementations, same contract as q56's entropy).
    Plan: (doc,term) counts and per-term doc frequencies are two
    map-side-combined aggregations over the exploded tokens; N is one
    scalar job; ranking is a per-doc window (keyed, never global).
    Deterministic ties via (tfidf desc, term asc) row_number."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "term_rank")
    )


@query(
    "q71_source_js_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    c AS (SELECT source, term, count(*) AS n FROM toks GROUP BY 1, 2),
    t AS (SELECT source, sum(n) AS tot FROM c GROUP BY 1),
    p AS (SELECT c.source, c.term, c.n / CAST(t.tot AS DOUBLE) AS pr
          FROM c JOIN t USING (source)),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
        count(*) AS n_shared_terms,
        sum(a.pr) AS mass_a, sum(b.pr) AS mass_b,
        sum(a.pr * ln(2.0 * a.pr / (a.pr + b.pr))
            + b.pr * ln(2.0 * b.pr / (a.pr + b.pr))) AS core
      FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    )
    SELECT p.source_a, p.source_b,
      CAST(coalesce(s.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
      round(0.5 * coalesce(s.core, 0.0)
            + 0.5 * ln(2.0) * ((1.0 - coalesce(s.mass_a, 0.0))
                               + (1.0 - coalesce(s.mass_b, 0.0))), 6)
        AS js_divergence
    FROM pairs p LEFT JOIN shared s
      ON p.source_a = s.source_a AND p.source_b = s.source_b
    """,
)
def q71_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    token distributions — the drift/contamination diagnostic run when a
    new crawl source joins the mix. Decomposition keeps it join-shaped:
    shared terms contribute the usual 0.5·Σ(p·ln(2p/(p+q)) + …); terms
    EXCLUSIVE to one side contribute exactly 0.5·ln2·(exclusive mass),
    recovered as 1 − Σ_shared p — so no outer vocab×pairs grid is ever
    built; pairs with NO shared terms come from a tiny source-pair
    relation and report the JS maximum ln 2 explicitly. Shuffles: two keyed aggs for the distributions, one term-keyed
    self-join, one pair-keyed agg. Rounded 6 (ln/accumulation noise)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    c = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = c.join(t, "source").select(
        "source", "term", (F.col("n") / F.col("tot").cast("double")).alias("pr")
    )
    a = p.select(
        F.col("source").alias("source_a"), "term", F.col("pr").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "term", F.col("pr").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    shared = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
            F.sum("pa").alias("mass_a"),
            F.sum("pb").alias("mass_b"),
            F.sum(
                pa * F.log(2.0 * pa / (pa + pb)) + pb * F.log(2.0 * pb / (pa + pb))
            ).alias("core"),
        )
    )
    import math

    srcs = docs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    full = pairs.join(shared, ["source_a", "source_b"], "left")
    return full.select(
        "source_a",
        "source_b",
        F.coalesce("n_shared_terms", F.lit(0).cast("bigint")).alias("n_shared_terms"),
        F.round(
            0.5 * F.coalesce("core", F.lit(0.0))
            + 0.5
            * math.log(2.0)
            * (
                (1.0 - F.coalesce("mass_a", F.lit(0.0)))
                + (1.0 - F.coalesce("mass_b", F.lit(0.0)))
            ),
            6,
        ).alias("js_divergence"),
    )


@query(
    "q87_decontaminated_corpus",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source, array_to_string(t[i:i+4], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{_BENCH_SOURCE}'),
    dropped AS (
      SELECT DISTINCT s.doc_id
      FROM sh s JOIN bench b USING (shingle)
      WHERE s.source <> '{_BENCH_SOURCE}'
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    LEFT JOIN dropped x USING (doc_id)
    WHERE d.source <> '{_BENCH_SOURCE}' AND x.doc_id IS NULL
    """,
)
def q87_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination REMOVAL — the enforcement half of
    q54's census: every non-benchmark doc sharing ANY distinct word
    5-gram with the benchmark source is cut, survivors pass through
    schema-intact (operators/quality.py decontaminate). The offender
    set is built from a semi-join against the benchmark's distinct
    shingle vocabulary (broadcast-sized in practice) and applied as an
    anti-join — corpus text never shuffles, only (doc_id, shingle)
    hashes do."""
    from sales_data_pipeline_spark.operators.quality import decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == _BENCH_SOURCE)
    corpus = docs.filter(F.col("source") != _BENCH_SOURCE)
    return decontaminate(corpus, bench, n=5).select("doc_id", "source", "n_chars")


@query(
    "q89_seq_length_histogram",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    b AS (
      SELECT doc_id, n_tok,
        CAST(length(bin(CAST(n_tok AS BIGINT))) - 1 AS BIGINT) AS bucket
      FROM t WHERE n_tok >= 1
    )
    SELECT bucket,
      CAST(2 ** bucket AS BIGINT) AS bucket_lo,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS frac_docs
    FROM b GROUP BY bucket
    """,
)
def q89_seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution in power-of-two buckets — the
    context-window planning histogram (how much of the corpus fits in
    4k/8k/32k tokens; what packing efficiency to expect, q65). The
    bucket is floor(log2(n_tokens)) computed ARITHMETICALLY as
    len(bin(n))-1 — both engines agree exactly, where a floating log2
    could round across the boundary at exact powers of two. One map +
    one tiny keyed agg; the window normalizer runs over the ~15-row
    histogram, never the corpus."""
    from sales_data_pipeline_spark.operators.text import token_count

    docs = table(spark, sf_dir, "documents")
    t = docs.select(token_count("text").alias("n_tok")).filter(F.col("n_tok") >= 1)
    b = t.select(
        "n_tok",
        (F.length(F.bin(F.col("n_tok"))) - 1).cast("bigint").alias("bucket"),
    )
    hist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return hist.select(
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("bucket_lo"),
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6).alias(
            "frac_docs"
        ),
    )


@query(
    "q98_countmin_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cells AS (
      SELECT r, ((('0x' || substr(md5(r || ':' || tok), 1, 13))::UBIGINT) % 1024)
               AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM toks, unnest([0, 1, 2, 3]) AS u(r)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
      FROM toks GROUP BY tok ORDER BY true_cnt DESC, tok LIMIT 20
    ),
    lookups AS (
      SELECT t.tok, t.true_cnt, u.r,
             ((('0x' || substr(md5(u.r || ':' || t.tok), 1, 13))::UBIGINT) % 1024)
               AS bucket
      FROM top t, unnest([0, 1, 2, 3]) AS u(r)
    )
    SELECT l.tok, min(l.true_cnt) AS true_cnt,
           CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt,
           CAST(min(COALESCE(c.cnt, 0)) - min(l.true_cnt) AS BIGINT) AS overcount
    FROM lookups l LEFT JOIN cells c ON l.r = c.r AND l.bucket = c.bucket
    GROUP BY l.tok
    """,
)
def q98_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation (operators/sketch.py),
    fully deterministic and therefore ORACLE-CHECKED — rare for a
    sketch: the md5-derived hash family is engine-portable, so DuckDB
    rebuilds the identical 4×1024 sketch and the identical min-of-cells
    estimates. Output: the exact top-20 tokens (q51) with their true
    and estimated counts and the CM overcount (always ≥ 0 — asserted
    as the CM guarantee in tests). The sketch aggregation's shuffle is
    bounded by d×w×partitions no matter the corpus size; the estimate
    join broadcasts the d×w sketch — the bounded-memory answer to
    'what are the hot tokens' when the exact vocabulary itself is too
    big to keep."""
    from sales_data_pipeline_spark.operators.sketch import (
        countmin_estimate,
        countmin_sketch,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    sketch = countmin_sketch(toks, "tok", depth=4, width=1024)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "tok")
        .limit(20)
    )
    est = countmin_estimate(sketch, top.select("tok"), "tok", depth=4, width=1024)
    return top.join(est, "tok").select(
        "tok",
        "true_cnt",
        F.col("est").alias("est_cnt"),
        (F.col("est") - F.col("true_cnt")).cast("bigint").alias("overcount"),
    )


@query(
    "q100_dataset_card",
    oracle="""
    WITH per_doc AS (
      SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS n_tok,
             n_chars
      FROM documents
    )
    SELECT lang, source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      CAST(sum(n_chars) AS BIGINT) AS n_chars,
      CAST(min(n_tok) AS BIGINT) AS min_tokens,
      CAST(max(n_tok) AS BIGINT) AS max_tokens,
      round(sum(n_tok) / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
      round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS doc_share,
      round(sum(n_tok) / CAST(sum(sum(n_tok)) OVER () AS DOUBLE), 6)
        AS token_share
    FROM per_doc GROUP BY lang, source
    """,
)
def q100_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset datasheet: per (lang, source) cell — doc/token/char
    totals, token-length extremes and means, and each cell's share of
    the corpus by docs and by tokens. This is the summary table a
    training-data release publishes (and the input to q76's mixture
    reweighting). One map + one keyed agg; the share normalizers are
    windows over the |langs|×|sources| result, never the corpus."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang", "source", token_count("text").alias("n_tok"), "n_chars"
    )
    agg = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("n_tok").cast("bigint").alias("min_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
        F.round(F.sum("n_tok") / F.count(F.lit(1)).cast("double"), 6).alias(
            "mean_tokens"
        ),
    )
    w = Window.partitionBy()
    return agg.select(
        "lang", "source", "n_docs", "n_tokens", "n_chars",
        "min_tokens", "max_tokens", "mean_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6)
        .alias("doc_share"),
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(w).cast("double"), 6)
        .alias("token_share"),
    )


_RAG_QUERY_TEXT = "the quick brown fox"
_RAG_DIM = 8


def _hash_embed_sql(expr: str) -> str:
    """DuckDB spelling of the deterministic hash embedding: component j
    of embed(s) = ((md5-52bit(j:s)) % 2000)/1000 - 1  ∈ [-1, 1)."""
    comps = ", ".join(
        f"((('0x' || substr(md5('{j}:' || {expr}), 1, 13))::UBIGINT % 2000)"
        f" / 1000.0 - 1)"
        for j in range(_RAG_DIM)
    )
    return f"[{comps}]"


@query(
    "q109_rag_retrieval",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS start FROM t),
    chunks AS (
      SELECT doc_id, start // 8 AS chunk_id,
             array_to_string(list_slice(toks, start + 1, start + 16), ' ')
               AS chunk
      FROM s
    ),
    embedded AS (
      SELECT doc_id, chunk_id, chunk,
             {_hash_embed_sql('chunk')}::DOUBLE[] AS emb
      FROM chunks
    ),
    q AS (SELECT {_hash_embed_sql(f"'{_RAG_QUERY_TEXT}'")}::DOUBLE[] AS qv),
    scored AS (
      SELECT doc_id, chunk_id, chunk,
             round(list_cosine_similarity(emb, qv), 9) AS sim
      FROM embedded, q
    )
    SELECT doc_id, chunk_id, chunk, round(sim, 6) AS sim
    FROM scored ORDER BY sim DESC, doc_id, chunk_id LIMIT 5
    """,
)
def q109_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG index+retrieve over the corpus, oracle-checked:
    chunk every document into 16-token windows (q61's chunker), embed
    each chunk with a deterministic hash embedding (md5-derived
    components standing in for a model — portable arithmetic, so
    DuckDB re-derives identical vectors), and return the top-5 chunks
    by cosine to the embedded query string. The pipeline shape is the
    real one (chunk map → embed map → broadcast query → global top-k
    via TakeOrderedAndProject); swapping the hash embedding for a model
    UDF changes one projection, nothing else. Sims rounded to 9 before
    ranking so accumulation-order noise can't flip ranks (q25's
    discipline)."""
    from sales_data_pipeline_spark.functions.vectors import cosine_similarity

    docs = table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id", F.inline(token_chunks("text", size=16, stride=8))
    ).select("doc_id", "chunk_id", "chunk")

    def hash_embed(col: F.Column):
        comps = [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 13
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2000
            )
            / 1000.0
            - 1
            for j in range(_RAG_DIM)
        ]
        return F.array(*comps)

    embedded = chunks.withColumn("emb", hash_embed(F.col("chunk")))
    # query vector: same formula over the literal query text, computed
    # as Catalyst expressions so engine arithmetic matches exactly
    embedded = embedded.withColumn("qv", hash_embed(F.lit(_RAG_QUERY_TEXT)))
    scored = embedded.select(
        "doc_id",
        "chunk_id",
        "chunk",
        # rank on the 9-digit sim (same key the oracle sorts on — a
        # 6-digit tie must not let the engines pick different top-5
        # members), surface the 6-digit one
        F.round(cosine_similarity("emb", "qv"), 9).alias("sim9"),
    )
    return (
        scored.orderBy(F.col("sim9").desc(), "doc_id", "chunk_id")
        .limit(5)
        .select("doc_id", "chunk_id", "chunk", F.round("sim9", 6).alias("sim"))
    )


@query(
    "q121_bigram_perplexity",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    big AS (
      SELECT doc_id, source, t[i] AS a, t[i+1] AS b
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
    ),
    lm_bi AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
      FROM big WHERE source = '{_BENCH_SOURCE}' GROUP BY a, b
    ),
    lm_uni AS (
      SELECT a, CAST(count(*) AS BIGINT) AS c_a
      FROM big WHERE source = '{_BENCH_SOURCE}' GROUP BY a
    ),
    v AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS vocab FROM lm_uni),
    scored AS (
      SELECT g.doc_id,
             ln((COALESCE(lb.c_ab, 0) + 1.0)
                / (COALESCE(lu.c_a, 0) + v.vocab)) AS lp
      FROM big g
      LEFT JOIN lm_bi lb ON g.a = lb.a AND g.b = lb.b
      LEFT JOIN lm_uni lu ON g.a = lu.a
      CROSS JOIN v
    )
    SELECT doc_id,
      CAST(count(*) AS BIGINT) AS n_bigrams,
      round(-avg(lp), 6) AS neg_avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q121_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL language-model perplexity scoring (CCNet-style quality
    stage, public recipe): train an add-1-smoothed bigram LM on the
    benchmark source's documents, score EVERY document by its negative
    average token log-probability — low = in-domain fluent text, high =
    out-of-domain/garbage; the standard cut for corpus filtering, a
    step beyond q56's character-entropy proxy. The LM is two count
    tables (bigram, unigram) + a vocab scalar: all three are
    aggregates of the benchmark slice, broadcast onto the corpus
    bigram stream — the corpus itself shuffles only for its per-doc
    average. exp() of the score is the perplexity; left as a log so
    the oracle compares linear-scale doubles."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    )
    big = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("a"),
                        F.element_at("t", i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("g"),
    ).select("doc_id", "source", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    lm_src = big.filter(F.col("source") == _BENCH_SOURCE)
    lm_bi = lm_src.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    lm_uni = lm_src.groupBy("a").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_a")
    )
    vocab = lm_uni.agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    lp = F.log(
        (F.coalesce(F.col("c_ab"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c_a"), F.lit(0)) + F.col("vocab"))
    )
    scored = (
        big.join(F.broadcast(lm_bi), ["a", "b"], "left")
        .join(F.broadcast(lm_uni), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("neg_avg_logprob"),
    )


@query(
    "q122_url_census",
    oracle="""
    WITH inj AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 4 = 0
             THEN ' see https://www.' || source || (doc_id % 5) || '.example.org/p/'
                  || doc_id
             ELSE '' END
        || CASE WHEN doc_id % 6 = 0
             THEN ' and http://cdn' || (doc_id % 3) || '.example.net/a'
             ELSE '' END AS text
      FROM documents
    ),
    urls AS (
      SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ ]+')) AS url
      FROM inj
    )
    SELECT regexp_extract(url, '://([^/ ]+)', 1) AS domain,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(count(*) AS BIGINT) AS n_urls
    FROM urls GROUP BY 1
    """,
)
def q122_url_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain census — the web-corpus hygiene scan
    feeding q78's domain caps (which domains dominate; what to block).
    The synthetic corpus carries no URLs, so deterministic ones are
    injected from (doc_id, source) identically on both engine sides
    (q72's injection discipline); the operator under test is the
    regex extraction pipeline: regexp_extract_all over the codegen
    path, domain parse, two-level aggregation. Patterns held to the
    Java∩RE2 dialect."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" see https://www."),
                F.col("source"),
                (did % 5).cast("string"),
                F.lit(".example.org/p/"),
                did.cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 == 0,
            F.concat(
                F.lit(" and http://cdn"),
                (did % 3).cast("string"),
                F.lit(".example.net/a"),
            ),
        ).otherwise(F.lit("")),
    )
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(injected, F.lit(r"https?://[^ ]+"), 0)
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            F.regexp_extract("url", r"://([^/ ]+)", 1).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
        )
    )


@query(
    "q124_weighted_topk_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
        len(string_split(text, ' ')) AS weight,
        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
          / 4503599627370496.0) AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, weight,
             round(pow(u, 1.0 / weight), 9) AS k
      FROM w WHERE weight >= 1
    )
    SELECT doc_id, source, CAST(weight AS BIGINT) AS weight, k
    FROM keyed ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def q124_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis–Spirakis 2006, public algorithm): each doc draws a
    deterministic uniform u from md5(doc_id), computes key u^(1/w)
    (w = token count), and the global top-k keys ARE a weighted sample
    without replacement — the one-pass distributed answer to 'sample
    50 docs proportional to length' that a naive cumulative-sum scheme
    (inherently sequential) can't give. Map + TakeOrderedAndProject:
    no shuffle beyond the top-k. Keys rounded to 9 before ranking and
    tie-broken by doc_id so both engines pick the identical set."""
    docs = table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(2**52))
    )
    w = token_count("text")
    keyed = docs.select(
        "doc_id",
        "source",
        w.alias("weight"),
        F.round(F.pow(u, 1.0 / w), 9).alias("k"),
    ).filter(F.col("weight") >= 1)
    return (
        keyed.select(
            "doc_id", "source", F.col("weight").cast("bigint").alias("weight"), "k"
        )
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(50)
    )


_BM25_TERMS = ("data", "spark", "table")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "q172_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN {str(_BM25_TERMS)} GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks WHERE term IN {str(_BM25_TERMS)} GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id,
        sum(
          ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
          * tf.tf * ({_BM25_K1} + 1.0)
          / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
        ) AS score
      FROM tf
      JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, round(score, 6) AS bm25,
      CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS BIGINT)
        AS rank
    FROM scored QUALIFY rank <= 10
    """,
)
def q172_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson et al., the Lucene default
    scoring, public formula) for a fixed 3-term query: top-10 docs by
    Σ idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the +1-smoothed
    idf. The lexical-retrieval half of a RAG stack beside q109's
    embedding retrieve — hybrid search = union both candidate sets.
    Plan: the term filter lands BEFORE the tf/df aggregations (only
    query-term postings are ever counted — at 100 TB the inverted
    aggregation runs on a |Q|-term slice, not the corpus vocabulary);
    doc lengths and (N, avgdl) are one map pass + one scalar; the
    top-10 is a TakeOrderedAndProject (per-partition top-k, k rows to
    the driver — plan-asserted) with rank assigned AFTER the limit, so
    the window sorts 10 rows, never the full match set. Rounded 6
    before ranking so ln's last-ulp cannot flip ranks (q70's
    contract)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", token_count("text").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    top = (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
        ).cast("bigint"),
    )


@query(
    "q204_temperature_mixture",
    oracle="""
    WITH agg AS (
      SELECT source AS domain,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS n_units
      FROM documents GROUP BY source
    ),
    sq AS (
      SELECT domain, n_units,
             CAST(floor(sqrt(CAST(n_units * 100000000 AS DOUBLE))) AS BIGINT)
               AS s0,
             n_units * 100000000 AS x
      FROM agg
    ),
    up AS (
      SELECT domain, n_units, x,
             CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 ELSE s0 END AS s1
      FROM sq
    ),
    pq AS (
      SELECT domain, n_units,
             CASE WHEN s1 * s1 > x THEN s1 - 1 ELSE s1 END AS p
      FROM up
    ),
    sh AS (
      SELECT domain, n_units,
        CAST(n_units AS DOUBLE) / CAST(SUM(n_units) OVER () AS DOUBLE)
          AS unit_share,
        CAST(p AS DOUBLE) / CAST(SUM(p) OVER () AS DOUBLE) AS temp_share
      FROM pq
    )
    SELECT domain, n_units, unit_share, temp_share,
           temp_share / unit_share AS mix_weight
    FROM sh ORDER BY domain
    """,
)
def q204_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (α=0.5) domain sampling table over the
    documents corpus, token-weighted — the mBERT/XLM-R α-sampling rule
    that up-weights small sources without letting any source dominate;
    q76 is the same table with dictated target shares, this derives
    them from corpus statistics. Exact cross-engine numerics: for
    α=1/2, n^α = √n, computed as an exact integer square root of
    fixed-point n·1e8 (operators/assemble.temperature_mixture_sqrt —
    the isqrt is a floor(sqrt) with a ±1 integer correction, so both
    engines land the identical BIGINT); totals are exact BIGINT sums
    and every share is one double division of exact integers, so the
    outputs compare bitwise with no rounding step (the q229
    integer-exact discipline)."""
    from sales_data_pipeline_spark.operators.assemble import (
        temperature_mixture_sqrt,
    )
    from sales_data_pipeline_spark.operators.text import token_count

    docs = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    return temperature_mixture_sqrt(
        docs, domain_col="source", size_col="n_tokens"
    ).orderBy("domain")


# ---------------------------------------------------------------------------
# q255 — compaction bin-packing plan (small-file maintenance planner)
# ---------------------------------------------------------------------------


@query(
    "q255_compaction_plan",
    oracle="""
    WITH sized AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_chars AS before_me
      FROM documents
    )
    SELECT source, CAST(before_me // 2048 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS bin_bytes
    FROM sized GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q255_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNER: assign each input object (here
    documents stand in for a file inventory: source = table partition,
    n_chars = file size) to a target-size output bin by scan-order
    PREFIX BUCKETING — bin = exclusive-prefix-sum(size) div target —
    and report each planned bin's file count and byte total. This is
    the queryable face of the maintenance compactor (pipeline/
    maintenance.py): at 100 TB the listing itself is big data, so the
    PLAN must be a distributed query, not a driver loop over a
    listing. Scan-order bucketing is the deliberate choice over
    size-sorted packing: it preserves the partition's existing order
    (time-ordered files stay time-local for pruning) and needs only a
    PARTITIONED window prefix sum — one shuffle by partition key, no
    global sort, no driver state. Bound (pinned in
    tests/test_r6_operators.py): with every file ≤ target, each bin's
    bytes land within ONE file of the target on either side — the
    straddling file at a bucket boundary is the only slack, the
    standard compactor contract. Oracle: identical window arithmetic
    in DuckDB (integer sizes, exact).

    The prefix sum itself uses the TWO-PHASE parallel scan (the
    distributed_prefix_sum recipe, per source): a window partitioned
    only by source puts every file of a partition through ONE reducer
    — the canonical 100 TB trap when partitions hold millions of
    listing rows. Files are range-bucketed on the scan key (bounds as
    a broadcast scalar — lazy), running sums run per (source, bucket)
    in parallel, offsets come from the tiny sources × buckets totals
    relation. Identical integers to the plain window, so the oracle
    is unchanged."""
    from sales_data_pipeline_spark.operators.dedup import _persist

    docs = _persist(
        table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    )
    n_buckets = 32
    bounds = docs.agg(F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi"))
    width = F.greatest(
        F.ceil((F.col("__hi") - F.col("__lo") + 1) / n_buckets), F.lit(1)
    )
    bucketed = (
        docs.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__b",
            F.floor((F.col("doc_id") - F.col("__lo")) / width).cast("int"),
        )
        .drop("__lo", "__hi")
    )
    w_in = (
        Window.partitionBy("source", "__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = bucketed.select(
        "source",
        "__b",
        "n_chars",
        F.sum("n_chars").over(w_in).alias("__run"),
    )
    totals = inner.groupBy("source", "__b").agg(F.max("__run").alias("__tot"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "__b",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    before = F.col("__run") + F.col("__off") - F.col("n_chars")
    return (
        inner.join(F.broadcast(offsets), ["source", "__b"])
        .groupBy(
            "source",
            F.floor(before / 2048).cast("bigint").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_chars").cast("bigint").alias("bin_bytes"),
        )
    )  # unordered: |bins| = corpus bytes / target, scales with data


# ---------------------------------------------------------------------------
# q257 — Gopher-style quality rule census (per-source filter report)
# ---------------------------------------------------------------------------


@query(
    "q257_gopher_rules",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t,
             len(replace(text, ' ', '')) AS n_alpha
      FROM documents
    ),
    top AS (
      SELECT doc_id, max(c) AS topcnt FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2
      ) GROUP BY 1
    ),
    flags AS (
      SELECT k.source,
        CASE WHEN len(t) BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS ok_wordcount,
        CASE WHEN CAST(n_alpha AS DOUBLE) / len(t) >= 4.0
              AND CAST(n_alpha AS DOUBLE) / len(t) <= 5.0 THEN 1 ELSE 0 END AS ok_meanlen,
        CASE WHEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.4
             THEN 1 ELSE 0 END AS ok_diversity,
        CASE WHEN len(list_filter(t, x -> x IN ('a', 'the'))) >= 2
             THEN 1 ELSE 0 END AS ok_stopwords,
        CASE WHEN CAST(top.topcnt AS DOUBLE) / len(t) <= 0.15
             THEN 1 ELSE 0 END AS ok_repetition
      FROM toks k JOIN top ON k.doc_id = top.doc_id
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(SUM(ok_wordcount * ok_meanlen * ok_diversity * ok_stopwords
               * ok_repetition) AS BIGINT) AS n_pass,
      CAST(SUM(1 - ok_wordcount) AS BIGINT) AS fail_wordcount,
      CAST(SUM(1 - ok_meanlen) AS BIGINT) AS fail_meanlen,
      CAST(SUM(1 - ok_diversity) AS BIGINT) AS fail_diversity,
      CAST(SUM(1 - ok_stopwords) AS BIGINT) AS fail_stopwords,
      CAST(SUM(1 - ok_repetition) AS BIGINT) AS fail_repetition
    FROM flags GROUP BY 1 ORDER BY 1
    """,
)
def q257_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality RULE census per source — the published
    rule-based pre-filter family (Rae et al. 2021 §A1.1: word-count
    band, mean-word-length band, lexical diversity, required stopwords,
    repetition screen), with thresholds tuned to this generator's
    density so every rule discriminates (probed: words 10–99, mean
    word length 3.7–5.3, diversity 0.28–1.0). Reported as a per-source
    census (docs, full passes, per-rule failure counts) — the shape a
    curation run reviews before committing a filter, and the
    rule-based complement of the learned quality score (q19).

    Engine-exact: every ratio is exact-integer/exact-integer divided
    once (chars/words, distinct/words, topcount/words) — both engines
    produce the identical double before the threshold compare. Scale
    shape: four rules are pure per-row expressions inside codegen; the
    repetition rule needs per-(doc, token) counts — one explode +
    map-side-combined groupBy, linear, the same shape as token
    counting; final census is one tiny groupBy(source)."""
    docs = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n = F.size(t)
    n_alpha = F.length(F.regexp_replace("text", " ", ""))
    topcnt = (
        docs.select("doc_id", F.explode(t).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("topcnt"))
    )
    ok = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    flags = (
        docs.join(topcnt, "doc_id")
        .select(
            "source",
            ok((n >= 20) & (n <= 80)).alias("ok_wordcount"),
            ok(
                (n_alpha.cast("double") / n >= 4.0)
                & (n_alpha.cast("double") / n <= 5.0)
            ).alias("ok_meanlen"),
            ok(F.size(F.array_distinct(t)).cast("double") / n >= 0.4).alias(
                "ok_diversity"
            ),
            ok(
                F.size(F.filter(t, lambda x: x.isin("a", "the"))) >= 2
            ).alias("ok_stopwords"),
            ok(F.col("topcnt").cast("double") / n <= 0.15).alias("ok_repetition"),
        )
    )
    s = lambda c: F.sum(c).cast("bigint")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            s(
                F.col("ok_wordcount")
                * F.col("ok_meanlen")
                * F.col("ok_diversity")
                * F.col("ok_stopwords")
                * F.col("ok_repetition")
            ).alias("n_pass"),
            s(1 - F.col("ok_wordcount")).alias("fail_wordcount"),
            s(1 - F.col("ok_meanlen")).alias("fail_meanlen"),
            s(1 - F.col("ok_diversity")).alias("fail_diversity"),
            s(1 - F.col("ok_stopwords")).alias("fail_stopwords"),
            s(1 - F.col("ok_repetition")).alias("fail_repetition"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q263 — compressibility quality census (zlib ratio per source)
# ---------------------------------------------------------------------------


@query("q263_compressibility")
def q263_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility quality census per source: exact utf-8 vs
    DEFLATE byte totals, the per-source compression ratio, and the
    count of documents outside the healthy per-doc ratio band
    (too-compressible = templated repetition, ≥1 = non-text payloads)
    — the cheap entropy-style gate production corpus pipelines run
    beside the Gopher rules (q257) and LM perplexity (q121). No
    oracle: DuckDB has no DEFLATE, so this carries the rows-only
    driver check; bitwise correctness is pinned instead by a
    python-ref test (tests/test_r6_operators.py) that recomputes
    every byte total with the same zlib out-of-engine. Scale shape:
    the zlib call is the pipeline's only Python and runs as an
    Arrow-batched scalar pandas UDF inside the map stage; sums are
    exact BIGINTs with map-side combine, and each group's ratio is
    one double division at the output boundary — partition-order
    independent by construction."""
    from sales_data_pipeline_spark.operators.quality import compressibility_stats

    docs = table(spark, sf_dir, "documents")
    return (
        compressibility_stats(docs, text_col="text", group_col="source")
        .withColumnRenamed("group", "source")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q266-q268 — BPE tokenizer induction (operators/bpe.py)
# ---------------------------------------------------------------------------


@query(
    "q266_bpe_pair_census",
    oracle="""
    WITH words AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM documents,
           UNNEST(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ')) AS t(w)
      WHERE w <> '' GROUP BY w
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
             substr(word, CAST(i AS INT) + 1, 1) AS right_sym,
             freq
      FROM words, UNNEST(range(1, length(word))) AS g(i)
      UNION ALL
      SELECT substr(word, length(word), 1), '</w>', freq FROM words
    )
    SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS pair_freq
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_freq DESC, left_sym, right_sym LIMIT 30
    """,
)
def q266_bpe_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE iteration 0, exactly oracled: the adjacent symbol-pair
    frequency census over the distinct word table (chars + '</w>'
    end-of-word marker, Sennrich's formulation) — the statistic whose
    argmax IS the first learned merge. Top 30 under the trainer's
    pinned total order (freq DESC, left, right). Scale: one corpus
    scan reduces to the vocabulary-sized word table; the census is one
    explode + map-side-combined sum over that table, never the corpus.
    The full iterative trainer is q267; this row gives the driver an
    exact cross-engine hash of its inner statistic."""
    from sales_data_pipeline_spark.operators.bpe import pair_census, word_freq_table

    docs = table(spark, sf_dir, "documents")
    return (
        pair_census(word_freq_table(docs, "text"))
        .orderBy(F.col("pair_freq").desc(), "left_sym", "right_sym")
        .limit(30)
    )


@query("q267_bpe_merges")  # iterative argmax loop: not SQL-expressible
def q267_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich et al. 2016) over
    the documents table: 16 merges, min pair freq 2. Returns the
    learned merge table (rank, left, right, merged, pair_freq) — the
    tokenizer artifact an LLM data pipeline ships to training. Rows-
    only driver check (training is an iterative argmax loop); bitwise
    parity of the whole merge list vs an out-of-engine reference
    implementation, the greedy-overlap rule, tie determinism, and the
    early-stop rule are pinned in tests/test_bpe.py. Scale: the corpus
    is scanned ONCE into the vocabulary-sized word-frequency table;
    each merge is one shuffle over that table plus a 1-row argmax
    collect; symbol rewrites are pure codegen array folds
    (operators/bpe.py module docstring has the full cost model)."""
    from sales_data_pipeline_spark.operators.bpe import bpe_train

    docs = table(spark, sf_dir, "documents")
    merges, words = bpe_train(docs, text_col="text", num_merges=16, min_freq=2)
    words.unpersist()
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_freq"])
            for m in merges
        ],
        "rank bigint, left_sym string, right_sym string, merged string, pair_freq bigint",
    ).orderBy("rank")


@query("q268_bpe_encoding_stats")  # depends on the iterative trainer
def q268_bpe_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fidelity census: train 16 BPE merges, encode the
    corpus with them (bpe_apply: per-rank folds on the DISTINCT word
    table, then one equi-join + order-pinned reassembly back to
    documents — per-rank work is vocabulary-sized), and report per
    source: docs, total tokens, mean tokens/doc and chars-per-token
    compression — the number a budgeted pretraining mix (q67/q76)
    consumes. Exact integer sums; the two ratios are single divisions
    at the output boundary. Rows-only driver check: the trainer is
    iterative; encode parity vs the reference encoder is pinned in
    tests/test_bpe.py."""
    from sales_data_pipeline_spark.operators.bpe import bpe_apply, bpe_train

    docs = table(spark, sf_dir, "documents")
    merges, words = bpe_train(docs, text_col="text", num_merges=16, min_freq=2)
    words.unpersist()
    enc = bpe_apply(docs, merges, text_col="text", id_col="doc_id")
    return (
        docs.select("doc_id", "source", F.length("text").alias("n_chars"))
        .join(enc.select("doc_id", "n_tokens"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias(
                "mean_tokens_per_doc"
            ),
            F.round(F.sum("n_chars") / F.sum("n_tokens"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q269 — exact phrase search (map-only scan plan; index sibling tested equal)
# ---------------------------------------------------------------------------


@query(
    "q269_phrase_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ') AS t
      FROM documents
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM toks, UNNEST(range(1, len(t))) AS g(i)
    WHERE t[CAST(i AS INT)] = 'table' AND t[CAST(i AS INT) + 1] = 'hash'
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q269_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ('table hash') over the corpus: per-document
    overlapping occurrence counts, docs with >= 1 hit. Registered plan
    is the MAP-ONLY array scan (phrase_hits_scan: one corpus pass,
    match in codegen, zero pre-agg shuffles) — the right shape for a
    one-shot query at 100 TB. Oracle replays the same position
    semantics in SQL."""
    from sales_data_pipeline_spark.operators.text import phrase_hits_scan

    docs = table(spark, sf_dir, "documents")
    return phrase_hits_scan(docs, "table hash")  # unordered hits


# ---------------------------------------------------------------------------
# q270 — BPE round-trip lossless audit (oracled sibling of q267/q268)
# ---------------------------------------------------------------------------


@query(
    "q270_bpe_lossless_audit",
    oracle="""
    WITH w AS (
      SELECT source, doc_id,
             len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS n_words
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           TRUE AS all_lossless
    FROM w GROUP BY source ORDER BY source
    """,
)
def q270_bpe_lossless_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable BPE correctness gate (the q251/q252 exact-
    sibling pattern): train 8 merges, encode the corpus, RECONSTRUCT
    each document from its tokens (strip the </w> markers back to
    spaces) and report per source: doc count, total whitespace-words,
    and all_lossless = every reconstruction equals the normalized
    original. The oracle computes the SQL-checkable side (counts) and
    pins all_lossless = TRUE — any encoder defect (dropped word,
    mis-ordered reassembly, bad merge fold) flips the boolean and
    fails the driver's hash. Subword tokenization is lossless by
    construction; this makes that theorem a driver-checked row.
    Scale shape: bpe_apply's vocabulary-sized folds + one corpus
    equi-join; the reconstruction equality is one map-side expression."""
    from sales_data_pipeline_spark.operators.bpe import EOW, bpe_apply, bpe_train

    docs = table(spark, sf_dir, "documents")
    merges, words = bpe_train(docs, text_col="text", num_merges=8, min_freq=2)
    words.unpersist()
    enc = bpe_apply(docs, merges, text_col="text", id_col="doc_id")
    norm = F.regexp_replace(F.col("text"), r"\s+", " ")
    # enc is CORPUS-sized (every doc's token array): Catalyst's size
    # estimate picked broadcast for this join at sf10 and the build
    # collect blew spark.driver.maxResultSize (measure10, r7) — same
    # class as the bpe_apply encode-table fix; pin a spillable sort-merge join.
    joined = docs.select("doc_id", "source", norm.alias("__norm")).join(
        enc.select("doc_id", "tokens").hint("merge"), "doc_id", "left"
    )
    rebuilt = F.trim(
        F.regexp_replace(F.concat_ws("", F.col("tokens")), EOW, " ")
    )
    # An empty / whitespace-only doc is trivially lossless: bpe_apply's
    # posexplode+filter drops it entirely (tokens NULL), which is the
    # correct encoding of "no words" — only a NULL against a NON-empty
    # normalized text is a real loss (ADVICE r6).
    ok = (
        F.col("tokens").isNull() & (F.trim(F.col("__norm")) == F.lit(""))
    ) | (
        F.col("tokens").isNotNull() & (rebuilt == F.trim(F.col("__norm")))
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.col("__norm")), " ")))
            .cast("bigint")
            .alias("total_words"),
            F.bool_and(ok).alias("all_lossless"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q276 — training-shard export audit (pipeline/export.py)
# ---------------------------------------------------------------------------


@query(
    "q276_training_export_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(8 AS BIGINT) AS n_shards,
           TRUE AS all_rows_match,
           TRUE AS all_fp_match
    FROM documents
    """,
)
def q276_training_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the training-shard exporter: publish the
    documents table as 8 deterministic shards (xxhash64(doc_id) mod 8,
    one shuffle, staging-dir atomic rename, sealed manifest with
    per-shard bit_xor fingerprints), then RE-DERIVE every shard's rows
    and fingerprint from the published parquet and compare to the
    manifest. The oracle pins both match booleans TRUE and checks the
    total row count — any loss, duplication, mis-assignment or
    manifest drift in the write path flips a boolean and fails the
    driver hash (per-shard counts are xxhash64-partitioned, which
    DuckDB cannot replicate, so the audit folds them into booleans the
    same way q274 folds bloom bits). Determinism, atomicity, crash
    debris and tamper detection are pinned in tests/test_export.py.
    Scale: one shuffle to write, one scan to verify."""
    import os
    import tempfile

    from sales_data_pipeline_spark.pipeline.export import (
        verify_export,
        write_training_shards,
    )

    docs = table(spark, sf_dir, "documents")
    # Per-process discriminator in the path: two concurrent runs at the
    # same SF (parallel parity sweeps) must not race on one export dir —
    # write_training_shards deletes the previous out_dir before its
    # rename, so a shared path lets runs cross-verify or clobber each
    # other (ADVICE r6).
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(
        tempfile.gettempdir(), f"spark_graft_export_{tag}_{os.getpid()}"
    )
    man = write_training_shards(spark, docs, out, n_shards=8)
    checks = verify_export(spark, out)
    return checks.agg(
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.bool_and("rows_match").alias("all_rows_match"),
        F.bool_and("fp_match").alias("all_fp_match"),
    )


# ---------------------------------------------------------------------------
# q284 — DSIR hashed-ngram importance weights (Xie et al. 2023, public)
# ---------------------------------------------------------------------------


@query(
    "q284_dsir_importance",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    bk AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(tok), 1, 13))::UBIGINT % 1024) AS b
      FROM toks
    ),
    dist AS (
      SELECT b,
             CAST(count(*) AS BIGINT) AS c_raw,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_tgt
      FROM bk GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
             CAST(SUM(c_tgt) AS BIGINT) AS n_tgt
      FROM dist
    )
    SELECT bk.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(
             ln((d.c_tgt + 1.0) / (t.n_tgt + 1024.0))
             - ln((d.c_raw + 1.0) / (t.n_raw + 1024.0))
           ), 6) AS log_importance
    FROM bk JOIN dist d ON bk.b = d.b CROSS JOIN tot t
    GROUP BY bk.doc_id
    """,
)
def q284_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, public): score every document by its average per-token log
    importance ratio between a TARGET distribution (here the ``en``
    slice, standing in for "text like my high-quality corpus") and the
    RAW corpus distribution, both estimated over 1024 hashed unigram
    buckets with add-1 smoothing. High scores = looks like the target;
    resampling by these weights (q66's weighted sampler) is the DSIR
    pipeline. Hashing is the repo's cross-engine md5-13-hex contract,
    so the oracle replays bitwise; the score follows q121's discipline
    (ln of smoothed integer ratios, avg, round 6).

    Scale shape: ONE aux pass builds BOTH distributions (groupBy bucket
    with a conditional count — 1024 rows, broadcast with its totals),
    then one scoring pass joins the token stream to the broadcast
    table and aggregates per doc. No shuffle wider than doc_id; the
    importance model is KB-sized driver-free state. Reference scope:
    the reference has no selection machinery; this is the
    training-data extension scope (SURVEY §2k)."""
    docs = table(spark, sf_dir, "documents")
    bk = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("bigint")
            % 1024
        ).alias("b"),
    )
    dist = bk.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
        F.count_if(F.col("lang") == "en").cast("bigint").alias("c_tgt"),
    )
    tot = dist.agg(
        F.sum("c_raw").cast("bigint").alias("n_raw"),
        F.sum("c_tgt").cast("bigint").alias("n_tgt"),
    )
    lr = F.log(
        (F.col("c_tgt") + F.lit(1.0)) / (F.col("n_tgt") + F.lit(1024.0))
    ) - F.log((F.col("c_raw") + F.lit(1.0)) / (F.col("n_raw") + F.lit(1024.0)))
    return (
        bk.join(F.broadcast(dist), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(lr), 6).alias("log_importance"),
        )
    )


# ---------------------------------------------------------------------------
# q285 — reciprocal-rank-fusion quality ensemble (Cormack et al. 2009)
# ---------------------------------------------------------------------------


@query(
    "q285_quality_rank_fusion",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             n_chars AS len_sig,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr_sig,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS wlen_sig
      FROM documents
    ),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY len_sig DESC, doc_id) AS r_len,
             row_number() OVER (ORDER BY ttr_sig DESC, doc_id) AS r_ttr,
             row_number() OVER (ORDER BY wlen_sig DESC, doc_id) AS r_wlen
      FROM sig
    )
    SELECT doc_id,
           CAST(r_len AS BIGINT) AS r_len,
           CAST(r_ttr AS BIGINT) AS r_ttr,
           CAST(r_wlen AS BIGINT) AS r_wlen,
           round(1.0/(60 + r_len) + 1.0/(60 + r_ttr) + 1.0/(60 + r_wlen), 6)
             AS rrf_score
    FROM ranked
    """,
)
def q285_quality_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009 —
    public) over three cheap quality signals: document length, distinct
    -word ratio (type-token ratio), and mean word length. Each signal
    ranks the corpus independently (row_number with a doc_id tie-break
    so ranks are total orders, engine-independent); the fused score is
    the standard Σ 1/(60 + rank). RRF is the rank-fusion stage a
    curation pipeline uses to combine heterogeneous quality scorers
    (and the hybrid-search combiner for q172's BM25 + q25's dense
    retrieval) without calibrating scales. The score is a FIXED
    three-term expression (not a float aggregation), so it is bitwise
    reproducible; round 6 per house style.

    Scale (r8 rewrite, de-weaking VERDICT r7 #1): each signal's rank
    runs as operators/scale.distributed_rank — range-bucket on the
    signal, per-bucket row_number in parallel, bucket-count prefix
    offsets via a 1-row JVM fold, broadcast-joined back — so the plan
    carries ZERO empty-partition windows and no global sort (pinned by
    test_plan_shapes); ranks are bitwise the naive window's because
    (signal, doc_id) is a total order, so the row_number oracle is
    unchanged. Three narrow rank pipelines over (doc_id, signal)
    pairs, fused by two doc_id equi-joins."""
    from sales_data_pipeline_spark.operators.scale import distributed_rank

    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    sig = docs.select(
        "doc_id",
        F.col("n_chars").alias("len_sig"),
        (
            F.size(F.array_distinct(words)).cast("double") / F.size(words)
        ).alias("ttr_sig"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / F.size(words)
        ).alias("wlen_sig"),
    )
    def rank_of(sig_col: str, out: str) -> DataFrame:
        return distributed_rank(
            sig.select("doc_id", sig_col), sig_col, "doc_id", out
        ).select("doc_id", out)

    ranked = (
        rank_of("len_sig", "r_len")
        .join(rank_of("ttr_sig", "r_ttr"), "doc_id")
        .join(rank_of("wlen_sig", "r_wlen"), "doc_id")
    )
    rrf = (
        F.lit(1.0) / (F.lit(60) + F.col("r_len"))
        + F.lit(1.0) / (F.lit(60) + F.col("r_ttr"))
        + F.lit(1.0) / (F.lit(60) + F.col("r_wlen"))
    )
    return ranked.select(
        "doc_id", "r_len", "r_ttr", "r_wlen", F.round(rrf, 6).alias("rrf_score")
    )


# ---------------------------------------------------------------------------
# q287 — hybrid search: BM25 + dense cosine fused by RRF
# ---------------------------------------------------------------------------


@query(
    "q287_hybrid_search",
    headline=True,  # r10 bench-set refresh (VERDICT r9 task 4)
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN {str(_BM25_TERMS)} GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks WHERE term IN {str(_BM25_TERMS)} GROUP BY 1
    ),
    sparse AS (
      SELECT tf.doc_id,
        CAST(row_number() OVER (ORDER BY round(sum(
          ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
          * tf.tf * ({_BM25_K1} + 1.0)
          / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
        ), 6) DESC, tf.doc_id) AS BIGINT) AS r_sparse
      FROM tf
      JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
        CAST(row_number() OVER (
          ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], qv.v), 9)
            DESC, vec_id) AS BIGINT) AS r_dense
      FROM embeddings CROSS JOIN qv
    ),
    fused AS (
      SELECT d.doc_id,
             COALESCE(s.r_sparse, CAST(0 AS BIGINT)) AS r_sparse,
             d.r_dense,
             round(
               CASE WHEN s.r_sparse IS NULL THEN 0.0
                    ELSE 1.0 / (60 + s.r_sparse) END
               + 1.0 / (60 + d.r_dense), 6) AS rrf_score
      FROM dense d LEFT JOIN sparse s USING (doc_id)
    )
    SELECT doc_id, r_sparse, r_dense, rrf_score,
      CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
        AS "rank"
    FROM fused QUALIFY "rank" <= 20
    """,
)
def q287_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the canonical RAG candidate generator: BM25
    keyword ranking (q172's formula and discipline, all matching docs)
    and dense cosine ranking against a fixed query embedding (q25's
    round-9 discipline; vec 0 stands in for the encoded query), fused
    with Reciprocal Rank Fusion Σ 1/(60+rank) (q285's combiner —
    calibration-free across incomparable score scales), top-20. Docs
    matching no query term contribute only their dense term (r_sparse
    reported as 0). Completes the retrieval story: q172 lexical, q25
    dense, q109 RAG assembly, q285 fusion — this row is the four
    composed, oracled end-to-end.

    Scale shape: the BM25 side aggregates only query-term postings
    (|Q|-term slice); the dense side is one map pass against a
    broadcast query vector; both corpus-sized ranks run as
    operators/scale.distributed_rank (r8 — no empty-partition window
    over the corpus); fusion is a keyed left join; final top-20 is
    TakeOrdered, whose 20-row re-rank window is the one bounded global
    window left in the plan (lint-allowlisted by construction)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    dl = docs.select("doc_id", token_count("text").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / denom
    from sales_data_pipeline_spark.operators.scale import distributed_rank

    bm25 = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    sparse = distributed_rank(bm25, "bm25", "doc_id", "r_sparse").select(
        "doc_id", "r_sparse"
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("cv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = F.round(dot / (norm(F.col("cv")) * norm(F.col("qv"))), 9)
    cos_scores = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        .crossJoin(F.broadcast(qv))
        .select("doc_id", cos.alias("cos"))
    )
    dense = distributed_rank(cos_scores, "cos", "doc_id", "r_dense").select(
        "doc_id", "r_dense"
    )
    rrf = F.round(
        F.when(F.col("r_sparse") > 0, 1.0 / (F.col("r_sparse") + 60)).otherwise(
            0.0
        )
        + 1.0 / (F.col("r_dense") + 60),
        6,
    )
    fused = (
        dense.join(sparse, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("r_sparse", F.lit(0).cast("bigint")).alias("r_sparse"),
            "r_dense",
        )
        .select("doc_id", "r_sparse", "r_dense", rrf.alias("rrf_score"))
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "r_sparse",
            "r_dense",
            "rrf_score",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id")))
            .cast("bigint")
            .alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q288 — curation funnel: the full data recipe as one oracled census
# ---------------------------------------------------------------------------


@query(
    "q288_curation_funnel",
    headline=True,  # r10 bench-set refresh (VERDICT r9 task 4)
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS w
      FROM documents
    ),
    q AS (
      SELECT * FROM base
      WHERE len(w) BETWEEN 20 AND 10000
        AND len(list_distinct(w)) * 10 >= len(w) * 3
    ),
    d AS (
      SELECT q.* FROM q
      JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM q GROUP BY 1) k
        ON md5(q.text) = k.h AND q.doc_id = k.keep
    ),
    bench_sh AS (
      SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
      FROM base, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS u(i)
      WHERE source = '{_BENCH_SOURCE}'
    ),
    c AS (
      SELECT * FROM d
      WHERE source <> '{_BENCH_SOURCE}'
        AND NOT EXISTS (
          SELECT 1
          FROM unnest(range(1, greatest(len(d.w) - 4, 0) + 1)) AS u(i)
          JOIN bench_sh b ON array_to_string(d.w[i:i+4], ' ') = b.g
        )
    ),
    toks AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 13))::UBIGINT
               % 1024) AS b
      FROM documents
    ),
    dist AS (
      SELECT b, CAST(count(*) AS BIGINT) AS c_raw,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_tgt
      FROM toks GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
             CAST(SUM(c_tgt) AS BIGINT) AS n_tgt
      FROM dist
    ),
    lt AS (
      SELECT t.doc_id,
        count(*) FILTER (
          WHERE (c_tgt + 1) * (n_raw + 1024) > (c_raw + 1) * (n_tgt + 1024)
        ) AS l_d,
        count(*) AS t_d
      FROM toks t
      JOIN dist USING (b) CROSS JOIN tot
      WHERE t.doc_id IN (SELECT doc_id FROM c)
      GROUP BY t.doc_id
    ),
    g AS (SELECT SUM(l_d) AS l_g, SUM(t_d) AS t_g FROM lt),
    s AS (
      SELECT doc_id FROM lt CROSS JOIN g
      WHERE l_d * t_g > l_g * t_d
    )
    SELECT base.source,
      CAST(count(*) AS BIGINT) AS n_raw,
      CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM q)) AS BIGINT)
        AS n_quality,
      CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM d)) AS BIGINT)
        AS n_dedup,
      CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM c)) AS BIGINT)
        AS n_decontam,
      CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM s)) AS BIGINT)
        AS n_selected
    FROM base GROUP BY base.source ORDER BY base.source
    """,
)
def q288_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-data recipe as one driver-checkable row
    per source — the per-stage survivor census a dataset datasheet
    reports: raw → quality gate (Gopher-style: 20 ≤ words ≤ 10000 and
    distinct-word ratio ≥ 0.3, integer-exact comparisons) → exact
    dedup (min-doc_id canonical per md5(text)) → decontamination
    (drop the benchmark source and any doc sharing a 5-token shingle
    with it — q54's convention) → DSIR selection, re-expressed
    INTEGER-EXACTLY: a token is target-leaning iff
    (c_tgt+1)·(N_raw+B) > (c_raw+1)·(N_tgt+B) (the cross-multiplied
    form of q284's smoothed log-ratio test — bigint arithmetic, no
    cross-engine float boundary), and a doc is selected when its
    leaning-token FRACTION exceeds the selection pool's average — also
    cross-multiplied (l_d·T_g > L_g·t_d), so the cut self-calibrates
    at every SF with zero float boundaries anywhere in the funnel. Each stage is oracled
    individually elsewhere (q257/q19, q21, q54/q87, q284); this row
    pins their COMPOSITION — ordering and survivorship interactions —
    which no single-stage oracle sees.

    Scale shape: quality is map-only; dedup one fingerprint groupBy;
    decontamination a shingle anti-join against the bench set;
    selection one exploded-token join to the broadcast 1024-bucket
    model + per-doc integer majority; census = per-stage survivor-flag
    aggregation, one pass each."""
    docs = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    base = docs.select("doc_id", "source", "lang", "text", w.alias("w"))
    wc = F.size("w")
    q_ok = (
        (wc >= 20)
        & (wc <= 10000)
        & (F.size(F.array_distinct("w")) * 10 >= wc * 3)
    )
    # Stage survivors as narrow id-sets (r12, guide-§8 lightweight-
    # proxy discipline): each stage frame used to carry the full
    # (text, w) payload and feed 2-3 downstream consumers unpersisted,
    # so the final four-flag census re-executed the whole
    # quality→dedup→decontam chain per flag (measured: 90 Exchange
    # nodes in the plan). Flags, joins and the DSIR pool only ever need
    # doc_id — the payload re-attaches from `base` exactly where a
    # stage needs text/shingles.
    #
    # NO persists (r13 — r12 persisted all four stage frames and
    # measured 1.29× OVER baseline warm): every stage frame here ends
    # in an exchange (groupBy/join), so Spark's ReusedExchange already
    # deduplicates the heavy pre-shuffle work across the census's
    # consumers within the one job; a persist buys only the cheap
    # post-shuffle agg re-run at the price of a full materialization
    # barrier + MEMORY_AND_DISK round-trip. Measured same-process A/B
    # (warm medians, n=5): none 2.32 s < {d_ids,lt} 2.67 s < {lt}
    # 2.94 s < all-four 3.24 s — persisting anything loses.
    q_ids = base.filter(q_ok).select("doc_id")
    d_ids = (
        base.join(q_ids, "doc_id")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh = F.when(
        wc >= 5,
        F.transform(
            F.sequence(F.lit(0), wc - 5),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at("w", i + j) for j in range(1, 6)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench_sh = (
        base.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.explode_outer(sh).alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    d_sh = base.join(d_ids, "doc_id").select(
        "doc_id", F.explode_outer(sh).alias("g")
    )
    contaminated = d_sh.join(bench_sh, "g").select("doc_id").distinct()
    c_ids = (
        base.filter(F.col("source") != _BENCH_SOURCE)
        .select("doc_id")
        .join(d_ids, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
    )
    bk = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("bigint")
            % 1024
        ).alias("b"),
    )
    dist = bk.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
        F.count_if(F.col("lang") == "en").cast("bigint").alias("c_tgt"),
    )
    tot = dist.agg(
        F.sum("c_raw").cast("bigint").alias("n_raw_tok"),
        F.sum("c_tgt").cast("bigint").alias("n_tgt_tok"),
    )
    leaning = (F.col("c_tgt") + 1) * (F.col("n_raw_tok") + 1024) > (
        F.col("c_raw") + 1
    ) * (F.col("n_tgt_tok") + 1024)
    # lt feeds BOTH the pool-average aggregate g and the selection
    # filter, but its groupBy exchange is reused across them
    # (ReusedExchange), so only the final agg re-runs — cheaper than a
    # persist barrier (measured, see the id-set comment above)
    lt = (
        bk.join(c_ids, "doc_id")
        .join(F.broadcast(dist), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count_if(leaning).alias("l_d"),
            F.count(F.lit(1)).alias("t_d"),
        )
    )
    g = lt.agg(
        F.sum("l_d").alias("l_g"), F.sum("t_d").alias("t_g")
    )
    s_ids = (
        lt.crossJoin(F.broadcast(g))
        .filter(F.col("l_d") * F.col("t_g") > F.col("l_g") * F.col("t_d"))
        .select("doc_id")
    )

    def flag(ids, name):
        return ids.withColumn(name, F.lit(1))

    return (
        base.select("doc_id", "source")
        .join(flag(q_ids, "fq"), "doc_id", "left")
        .join(flag(d_ids, "fd"), "doc_id", "left")
        .join(flag(c_ids, "fc"), "doc_id", "left")
        .join(flag(s_ids, "fs"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw"),
            F.sum(F.coalesce("fq", F.lit(0))).cast("bigint").alias("n_quality"),
            F.sum(F.coalesce("fd", F.lit(0))).cast("bigint").alias("n_dedup"),
            F.sum(F.coalesce("fc", F.lit(0))).cast("bigint").alias("n_decontam"),
            F.sum(F.coalesce("fs", F.lit(0))).cast("bigint").alias("n_selected"),
        )
        .orderBy("source")
    )
