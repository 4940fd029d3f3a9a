"""Corpus-quality operators beyond per-doc scoring: repetition signals,
benchmark contamination, and deterministic stratified sampling.

These are the filters large-scale pretraining pipelines layer on top of
dedup (the Gopher/C4-style repetition gates, eval-set decontamination,
and source rebalancing). All three are exact, oracle-checkable
DataFrame compositions:

- ``repetition_stats``: duplicate/top n-gram fractions per document.
  Formulated as explode → two key-partitioned aggregations (map-side
  combined), NOT a per-row nested loop: an expression-level
  count-each-distinct-gram is O(len²) per doc, which dies on a 100k-
  token document, while the explode path stays linear and spreads one
  huge document's grams across reducers.
- ``contamination``: distinct-shingle overlap of each corpus doc
  against a benchmark set (the "is my training set leaking the eval
  benchmark" check). Shingles travel as xxhash64 longs (8 bytes, not
  ~30-char strings); the benchmark side aggregates to DISTINCT hashes
  before the join, so the join's build side is the benchmark's
  vocabulary, not its documents.
- ``stratified_sample``: per-stratum keep-rates decided by a hex digit
  of md5(id) — the same engine-portable determinism contract as
  q44_training_split: the SAME row is kept on every run, partitioning,
  and cluster size; rates are sixteenths (hex-digit buckets).

Hash-vs-string note: Spark counts gram/shingle HASHES where the DuckDB
oracles count the strings; results are equal unless xxhash64 collides
within one document (~|S|²/2⁶⁵ — negligible, and the hash is the right
shuffle representation at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators.text import tokens


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, gram) with MULTIPLICITY (one row per gram occurrence) —
    repetition needs counts, unlike the distinct sets dedup uses."""
    t = F.col("__t")
    grams = F.when(F.size(t) < n, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(n)]),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__t"))
        .select("doc", F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition signals (Gopher-style quality
    gates): total / distinct / top-gram counts and the derived
    duplicate-gram and top-gram fractions. Docs shorter than ``n``
    tokens emit nothing (they have no n-grams to repeat).

    Plan: explode grams → count per (doc, gram) → roll up per doc.
    Both aggregations partial-aggregate map-side, so the shuffle
    carries (doc, gram, partial_count), linear in corpus size."""
    per_gram = (
        _gram_hashes(df, id_col, text_col, n)
        .groupBy("doc", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = F.sum("c").cast("bigint")
    distinct = F.count(F.lit(1)).cast("bigint")
    top = F.max("c").cast("bigint")
    return (
        per_gram.groupBy("doc")
        .agg(total.alias("n_grams"), distinct.alias("n_distinct_grams"), top.alias("top_gram_count"))
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "n_distinct_grams",
            "top_gram_count",
            ((F.col("n_grams") - F.col("n_distinct_grams")) / F.col("n_grams")).alias("dup_gram_frac"),
            (F.col("top_gram_count") / F.col("n_grams")).alias("top_gram_frac"),
        )
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Distinct n-gram shingle overlap of every corpus doc against the
    benchmark set: (doc, n_shingles, n_overlap, contamination_rate).
    Zero-overlap docs are reported (rate 0.0) — decontamination needs
    the full census, not just the hits.

    Plan: per-doc DISTINCT shingle hashes on the corpus side; the
    benchmark collapses to its distinct shingle vocabulary (one
    aggregation) before the join, so join size is corpus-shingles ×
    hit-rate. On a real cluster the vocabulary of a benchmark suite is
    small enough to broadcast; Spark's AQE does that given its
    post-aggregation size."""
    from sales_data_pipeline_spark.operators.text import shingle_hashes_from_tokens

    corpus_sh = (
        corpus.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__t"))
        .select("doc", shingle_hashes_from_tokens("__t", n).alias("sh"))
        .select("doc", F.size("sh").cast("bigint").alias("n_shingles"),
                F.explode_outer("sh").alias("shingle"))
    )
    bench_vocab = (
        benchmark.select(tokens(text_col).alias("__t"))
        .select(F.explode(shingle_hashes_from_tokens("__t", n)).alias("shingle"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = corpus_sh.join(bench_vocab, "shingle", "left")
    return (
        joined.groupBy("doc")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("__hit").cast("bigint").alias("n_overlap"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            "n_overlap",
            F.when(F.col("n_shingles") > 0, F.col("n_overlap") / F.col("n_shingles"))
            .otherwise(F.lit(0.0))
            .alias("contamination_rate"),
        )
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Shannon entropy of the character distribution per document (bits
    of surprise per char, natural log) — the classic cheap proxy for LM
    perplexity in corpus filtering: machine-generated/degenerate text
    (repeated chars, base64 blobs, template spam) sits at the entropy
    extremes.

    Plan: explode chars → (doc, char) counts → one per-doc aggregation
    using the closed form  H = ln(t) − (Σ n·ln n)/t  (algebraically
    −Σ p·ln p, but needing no second pass for t) — the same linear
    two-shuffle shape as repetition_stats, no join. Entropy is rounded
    (default 6 digits) because a float sum's accumulation order varies
    with partitioning; 1e-15 noise must not flip the oracle hash."""
    ch = df.select(
        F.col(id_col).alias("doc"), F.explode(F.split(text_col, "")).alias("c")
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc", "c").agg(F.count(F.lit(1)).alias("n"))
    t = F.sum("n").cast("double")
    s = F.sum(F.col("n").cast("double") * F.log(F.col("n").cast("double")))
    return (
        cnt.groupBy("doc")
        .agg(
            F.sum("n").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.round(F.log(t) - s / t, round_digits).alias("entropy"),
        )
        .select(F.col("doc").alias(id_col), "n_chars", "n_distinct_chars", "entropy")
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb paragraph-
    dedup shape): drop every segment whose text occurs in ≥ ``min_docs``
    DISTINCT documents — headers, footers, license blocks, template spam
    — then reassemble each document from its surviving segments in order.
    Segments are deterministic ``chunk_size``-token windows.

    Output per input doc (docs whose every chunk was boilerplate are
    kept with empty clean text — the caller decides whether to drop
    them): (id, n_chunks, n_kept, n_dropped, clean_text).

    Plan — three shuffles, each linear in corpus size:
      1. chunk frequency: inline(chunks) → groupBy(md5(chunk)) with
         map-side-combined countDistinct; chunks travel as 16-byte md5
         keys, not full text.
      2. tag: shuffle-join chunks against the frequency table on the
         md5 key (at real scale the boilerplate side can instead be
         filtered to n_docs ≥ min_docs first and broadcast — it is the
         small side by construction — leaving a left_anti broadcast
         join; AQE picks that up from post-aggregation size).
      3. reassemble: ONE groupBy(doc) — collect_list skips nulls, so a
         when()-guarded struct collects only surviving chunks while
         count(*) still sees all of them; array_sort for deterministic
         order, concat_ws. No second per-doc aggregation, no window, no
         per-doc Python."""
    from sales_data_pipeline_spark.operators.text import token_chunks

    chunks = df.select(
        F.col(id_col).alias("doc"),
        F.inline(token_chunks(text_col, size=chunk_size)),
    ).select("doc", "chunk_id", "chunk", F.md5("chunk").alias("k"))
    freq = chunks.groupBy("k").agg(F.count_distinct("doc").alias("n_docs"))
    tagged = chunks.join(freq, "k")
    kept_struct = F.when(
        F.col("n_docs") < min_docs, F.struct("chunk_id", "chunk")
    )
    return (
        tagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.collect_list(kept_struct).alias("__kept"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_chunks",
            F.size("__kept").cast("bigint").alias("n_kept"),
            (F.col("n_chunks") - F.size("__kept")).cast("bigint").alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(F.array_sort("__kept"), lambda x: x["chunk"]),
            ).alias("clean_text"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_16ths: dict[str, int],
    default_16ths: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff the last
    hex digit of md5(id) falls below the stratum's rate (in sixteenths).
    Engine-portable (md5 is bit-identical everywhere), stable under
    re-runs/repartitioning, and map-only — the idiomatic replacement
    for sampleBy(), whose output depends on partition order."""
    for v in list(rates_16ths.values()) + [default_16ths]:
        if not 0 <= v <= 16:
            raise ValueError(f"rates are sixteenths, got {v}")
    digit = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 32, 1), 16, 10).cast("int")
    rate = F.lit(default_16ths)
    for stratum, sixteenths in rates_16ths.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(sixteenths)).otherwise(rate)
    return df.filter(digit < rate)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance sampling by a per-row weight in [0,1] (DCLM/DsDm-style
    quality-weighted data selection): keep a row iff a deterministic
    uniform draw falls below its weight, so keep-probability equals the
    weight exactly. The draw is the first 13 hex digits of md5(id) —
    13 hex = 52 bits, exactly representable in a double, giving
    u ∈ [0,1) that is bit-identical across engines, runs, partitionings
    and cluster sizes (the same contract as stratified_sample, which
    this generalizes from per-stratum constants to per-row weights).
    Map-only: the filter rides the scan."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10).cast(
            "double"
        )
        / float(16**13)
    )
    return df.filter(u < F.col(weight_col))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_overlap: int = 0,
) -> DataFrame:
    """Benchmark decontamination REMOVAL: drop every corpus doc whose
    distinct n-gram overlap with the benchmark set exceeds
    ``max_overlap`` (default: any shared n-gram disqualifies — the
    strict eval-hygiene setting). Complement of ``contamination``,
    which only reports the census; training pipelines run the census
    for monitoring and this operator for the actual cut.

    Plan: corpus shingles explode → semi-join the (distinct, broadcast-
    sized) benchmark vocabulary → per-doc overlap count → anti-join the
    offenders against the corpus. All shuffles keyed and linear; the
    corpus rows themselves only move through the final anti-join, and
    docs with zero overlapping shingles never appear on its build side.
    Returns the surviving corpus rows unchanged (schema-preserving)."""
    from sales_data_pipeline_spark.operators.text import (
        shingle_hashes_from_tokens,
        tokens,
    )

    corpus_sh = (
        corpus.select(F.col(id_col).alias("__doc"), tokens(text_col).alias("__t"))
        .select("__doc", F.explode(shingle_hashes_from_tokens("__t", n)).alias("shingle"))
    )
    bench_vocab = (
        benchmark.select(tokens(text_col).alias("__t"))
        .select(F.explode(shingle_hashes_from_tokens("__t", n)).alias("shingle"))
        .distinct()
    )
    offenders = (
        corpus_sh.join(bench_vocab, "shingle", "left_semi")
        .groupBy("__doc")
        .agg(F.count(F.lit(1)).alias("__n_overlap"))
        .filter(F.col("__n_overlap") > max_overlap)
        .select(F.col("__doc").alias(id_col))
    )
    return corpus.join(offenders, id_col, "left_anti")


def passage_dedup_rewrite(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """Passage-level dedup REWRITE (q258's operator form, the
    CCNet/Dolma paragraph recipe): split every document into
    non-overlapping ``chunk_tokens``-token passages, keep only each
    passage's GLOBAL first occurrence — deterministic keeper = min
    (id, position) — and reassemble each document from its surviving
    passages in original order. Complements :func:`remove_boilerplate`
    (which drops segments appearing in ≥ m docs — a frequency rule
    that keeps ALL copies of rare-enough segments): this keeps EXACTLY
    ONE copy of every passage corpus-wide, the contract training-data
    dedup wants (no span is learned twice, no span is lost).

    Returns (id, n_chunks, n_kept, new_text) — new_text = '' when a
    document was entirely made of already-seen passages.

    Scale shape: one passage-keyed shuffle (window PARTITIONED by
    passage, each partition one passage's small occurrence list) and
    one id-keyed shuffle to reassemble; reassembly order is pinned via
    array_sort over (position, passage) structs so the rewritten text
    is byte-stable across partitionings."""
    from pyspark.sql import Window

    t = F.split(text_col, " ")
    n_chunks_arr = F.floor((F.size(t) + chunk_tokens - 1) / chunk_tokens).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks_arr - 1),
        lambda i: F.array_join(F.slice(t, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    chunks = docs.select(
        F.col(id_col).alias("__id"), F.posexplode(chunk_arr).alias("idx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("__id", "idx")
    ranked = chunks.select(
        "__id", "idx", "chunk", F.row_number().over(w).alias("rn")
    )
    tot = chunks.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    kept = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("idx"), F.col("chunk")))
                    ),
                    lambda x: x.getField("chunk"),
                ),
                " ",
            ).alias("new_text"),
        )
    )
    return tot.join(kept, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def compressed_size(col: Column | str, level: int = 6) -> Column:
    """DEFLATE-compressed byte size of a text column — the
    compressibility quality signal (CCNet/Gopher-class pipelines gate
    on it: near-incompressible text is binary junk or high-entropy
    spam, extreme compressibility is boilerplate/template repetition;
    cheaper than an LM-perplexity pass and catches much of the same
    mass). The only Python in the pipeline's quality stack: zlib has
    no SQL analogue, so this is an Arrow-batched scalar pandas UDF —
    one Python round-trip per column batch, NOT per row; everything
    downstream (ratios, per-source aggregation, gating) stays
    JVM-side on the exact integer it returns. Sizes are computed on
    utf-8 bytes at a pinned level so the number is reproducible run
    to run on one zlib build; treat cross-build drift like a
    tokenizer-version change (a pipeline config constant, not a
    correctness bug)."""
    import pandas as pd  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    def _zsize_fn(s):
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        ).astype("Int64")

    _zsize_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _zsize = pandas_udf("bigint")(_zsize_fn)

    return _zsize(F.col(col) if isinstance(col, str) else col)


def compressibility_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    level: int = 6,
    flag_below: float = 0.4,
    flag_above: float = 1.0,
) -> DataFrame:
    """Per-group compressibility census: doc counts, exact byte totals
    (raw utf-8 vs DEFLATE), the group's overall compression ratio, and
    how many documents fall outside the [flag_below, flag_above)
    per-doc ratio band (too compressible = templated/repetitive; ratio
    ≥ 1 = already-compressed/random payloads masquerading as text).
    Shape: one scan, the pandas UDF runs inside the map stage, then a
    single map-side-combined groupBy on exact BIGINT sums — the group
    ratio is one double division of exact integers at the output
    boundary, so results are partition-order independent."""
    sized = df.select(
        F.col(group_col).alias("group"),
        F.octet_length(F.col(text_col)).cast("bigint").alias("raw_b"),
        compressed_size(text_col, level=level).alias("z_b"),
    ).filter(F.col("raw_b") > 0)
    per_doc_ratio = F.col("z_b") / F.col("raw_b")
    return (
        sized.withColumn(
            "flagged",
            ((per_doc_ratio < F.lit(flag_below)) | (per_doc_ratio >= F.lit(flag_above)))
            .cast("int"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("raw_b").cast("bigint").alias("text_bytes"),
            F.sum("z_b").cast("bigint").alias("zlib_bytes"),
            F.sum("flagged").cast("bigint").alias("n_flagged"),
        )
        .withColumn(
            "compression_ratio", F.col("zlib_bytes") / F.col("text_bytes")
        )
    )
