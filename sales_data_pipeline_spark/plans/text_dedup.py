"""Text-analysis + deduplication query catalog (documents table).

The LLM-training-data operators the reference never had but a 100 TB
corpus pipeline needs: token statistics, language ID, quality scoring,
content fingerprinting, exact dedup, exact n-gram Jaccard near-dup, and
the two sub-quadratic near-dup paths (MinHash+LSH, SimHash blocking).

Exact operators carry DuckDB oracles; the LSH paths are probabilistic
by design (their recall is a property, not an equation) so they get
rows-only driver checks plus recall assertions against the exact
operator in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from sales_data_pipeline_spark.operators.text import (
    EN_STOPWORDS,
    LANG_STOPWORDS,
    bpe_token_count,
    fingerprint,
    lang_id,
    lang_id_multi,
    quality_score,
    rolling_hash,
    stopword_count,
    token_count,
    unique_token_count,
    winnow_fingerprints,
)
from sales_data_pipeline_spark.plans.registry import query

_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"

# DuckDB distinct word 3-grams (the shingle sets operators.text hashes)
_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


@query(
    "q17_text_stats",
    oracle="""
    SELECT
      doc_id,
      length(text) AS char_len,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
      len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))
        AS n_bpe_tokens,
      (length(text) - (len(string_split(text, ' ')) - 1))
        / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def q17_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — pure map stage, no shuffle.
    n_bpe_tokens counts GPT-2-style pre-tokenization runs (the cheap
    LLM-token proxy for corpus accounting); avg_token_len uses the
    closed form (chars - separators) / tokens so both engines produce
    bit-identical doubles."""
    docs = table(spark, sf_dir, "documents")
    n = token_count("text")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("char_len"),
        n.alias("n_tokens"),
        unique_token_count("text").alias("n_unique_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        ((F.length("text").cast("bigint") - (n - F.lit(1))) / n).alias("avg_token_len"),
    )


@query(
    "q18_lang_id",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS n_stopwords,
      len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
        / len(string_split(text, ' ')) AS stop_ratio,
      CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
                / len(string_split(text, ' ')) >= 0.03
           THEN 'en' ELSE 'other' END AS lang_pred
    FROM documents
    """,
)
def q18_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic (higher-order filter(), no UDF).
    Real multi-language ID = same plan + a broadcast per-language
    stopword map."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        stopword_count("text").alias("n_stopwords"),
        (stopword_count("text") / token_count("text")).alias("stop_ratio"),
        lang_id("text").alias("lang_pred"),
    )


def _in_list(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


@query(
    "q57_lang_id_multi",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    r AS (
      SELECT doc_id,
        len(list_filter(toks, x -> x IN {_in_list(LANG_STOPWORDS["de"])}))
          / len(toks) AS r_de,
        len(list_filter(toks, x -> x IN {_in_list(LANG_STOPWORDS["en"])}))
          / len(toks) AS r_en,
        len(list_filter(toks, x -> x IN {_in_list(LANG_STOPWORDS["fr"])}))
          / len(toks) AS r_fr
      FROM t
    )
    SELECT doc_id,
      CASE WHEN greatest(r_de, r_en, r_fr) < 0.03 THEN 'other'
           WHEN r_de = greatest(r_de, r_en, r_fr) THEN 'de'
           WHEN r_en = greatest(r_de, r_en, r_fr) THEN 'en'
           ELSE 'fr' END AS lang_pred
    FROM r
    """,
)
def q57_lang_id_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-language ID: per-language function-word hit ratios over ONE
    tokenization, deterministic argmax (ratio desc, language code asc on
    ties), 'other' under threshold. Pure codegen for a handful of
    languages; the dozens-of-languages shape is explode + broadcast
    (lang, word) join + groupBy argmax (same semantics, tested here
    against this expression form's oracle)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_multi("text").alias("lang_pred"))


@query(
    "q19_quality_score",
    oracle=f"""
    SELECT
      doc_id,
      (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END) * 0.4
      + (len(list_distinct(string_split(text,' '))) / len(string_split(text,' '))) * 0.3
      + least(len(list_filter(string_split(text,' '), x -> x IN {_STOP_SQL}))
              / len(string_split(text,' ')) * 10.0, 1.0) * 0.3
        AS quality
    FROM documents
    """,
)
def q19_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality pre-filter (length band, lexical diversity,
    bounded stopword ratio) — the cheap gate before dedup/embedding."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


@query(
    "q20_fingerprint",
    oracle="""
    SELECT doc_id, lang, source, md5(trim(text)) AS fingerprint,
           CASE WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                  list_prepend(0::BIGINT,
                               [unicode(x) for x in string_split(text, '')]),
                  (acc, c) -> (acc * 31 + c) % 1125899906842589)
           END AS rhash
    FROM documents
    """,
)
def q20_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints for exact dedup: md5 (128-bit, content
    addressing) + Rabin-Karp polynomial rolling hash (incrementally
    maintainable — the primitive under content-defined chunking)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        fingerprint("text").alias("fingerprint"),
        rolling_hash("text").alias("rhash"),
    )


@query(
    "q21_dedup_exact",
    oracle="""
    SELECT lang, source, min(doc_id) AS keep_id, count(*) AS group_size
    FROM documents GROUP BY lang, source
    """,
)
def q21_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min id) per group + group size.
    Shown on (lang, source); text-level dedup is the same operator keyed
    on the md5 fingerprint (tests plant true duplicate texts)."""
    docs = table(spark, sf_dir, "documents")
    return exact_dedup(docs, id_col="doc_id", key_cols=["lang", "source"])


@query(
    "q22_ngram_jaccard_pairs",
    headline=True,
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    """,
)
def q22_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate pairs (3-gram shingle Jaccard ≥ 0.6) via a
    shingle inverted index. This is the ground truth the approximate
    paths (q23/q24) are measured against."""
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.6)


@query("q23_minhash_lsh_pairs", headline=True)  # probabilistic: rows-only check
def q23_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) candidate generation, exact
    Jaccard verification of candidates only — the sub-quadratic near-dup
    path for 100 TB corpora. No SQL oracle: banded-LSH recall is
    probabilistic (1-(1-t^r)^b); the covering checks are
    tests/test_dedup.py::test_minhash_lsh_recall_on_strong_pairs
    (recall 1.0 on planted ≥0.9 pairs vs the exact operator) and
    ::test_lsh_jaccard_values_match_exact (emitted values bitwise
    equal to the exact path)."""
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.6)


@query("q24_simhash_pairs")  # probabilistic blocking: rows-only check
def q24_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (hamming ≤ 3) with 16-bit block
    pigeonhole candidate generation — constant-size signatures, linear
    candidate cost. Covering checks (oracle=None):
    tests/test_dedup.py::test_simhash_matches_python_reference and
    ::test_simhash_near_pairs_symmetric_and_bounded."""
    docs = table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, max_hamming=3)


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.5,
    near_threshold: float = 0.8,
    use_lsh: bool | None = None,
    lsh_above_docs: int = 100_000,
) -> DataFrame:
    """Quality gate → exact dedup → near-dup drop; returns the kept rows
    (all original columns + ``quality``).

    The near-dup stage is regime-switched: below ``lsh_above_docs``
    survivors it runs the EXACT PPJoin path (``ngram_jaccard_pairs``,
    what the SQL oracle can verify); above it, ``minhash_lsh_pairs`` —
    same output contract, sub-quadratic. ``use_lsh=None`` decides by
    counting the post-gate survivors (one cheap map-only job; at 100 TB
    the corpus size is known and callers pass use_lsh=True outright).
    LSH recall < 1 only ever KEEPS extra docs (a missed pair is an
    undropped doc), so the LSH keep-list is always a superset of the
    exact keep-list — curation degrades toward keeping data, never
    toward dropping good data."""
    scored = (
        docs.withColumn("quality", quality_score(text_col))
        .withColumn("__fp", fingerprint(text_col))
        .filter(F.col("quality") >= quality_min)
    )
    keep_ids = scored.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    # persist: the near-dup operator walks this subtree several times
    # (shingle occurrence pass, doc-frequency pass, verify sides) and
    # the final anti-join walks it once more — without a materialization
    # each walk recomputes quality + fingerprint + the semi-join.
    # MEMORY_AND_DISK spills instead of OOMing; cache ownership follows
    # the dedup operators' contract (session-scoped, cleared by caller).
    from sales_data_pipeline_spark.operators.dedup import _persist

    kept = _persist(scored.join(keep_ids, id_col, "left_semi").drop("__fp"))
    if use_lsh is None:
        use_lsh = kept.count() > lsh_above_docs
    pair_fn = minhash_lsh_pairs if use_lsh else ngram_jaccard_pairs
    near = (
        pair_fn(kept, id_col=id_col, text_col=text_col, threshold=near_threshold)
        .select("doc_b")
        .distinct()
    )
    return kept.join(near, kept[id_col] == near.doc_b, "left_anti")


@query(
    "q33_corpus_curation",
    headline=True,
    oracle=f"""
    WITH {_SHINGLES_CTE},
    scored AS (
      SELECT doc_id, lang, source,
        (CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END) * 0.4
        + (len(list_distinct(string_split(text,' '))) / len(string_split(text,' '))) * 0.3
        + least(len(list_filter(string_split(text,' '), x -> x IN {_STOP_SQL}))
                / len(string_split(text,' ')) * 10.0, 1.0) * 0.3 AS quality,
        md5(trim(text)) AS fp
      FROM documents
    ),
    quality_pass AS (SELECT * FROM scored WHERE quality >= 0.5),
    exact_kept AS (
      SELECT * FROM quality_pass
      WHERE doc_id = (SELECT min(q2.doc_id) FROM quality_pass q2 WHERE q2.fp = quality_pass.fp)
    ),
    near_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) / (sa.n_sh + sb.n_sh - count(*)) AS j
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      WHERE a.doc_id IN (SELECT doc_id FROM exact_kept)
        AND b.doc_id IN (SELECT doc_id FROM exact_kept)
      GROUP BY 1, 2, sa.n_sh, sb.n_sh
      HAVING count(*) / (sa.n_sh + sb.n_sh - count(*)) >= 0.8
    )
    SELECT e.doc_id, e.lang, e.source, round(e.quality, 9) AS quality
    FROM exact_kept e
    WHERE e.doc_id NOT IN (SELECT doc_b FROM near_pairs)
    """,
)
def q33_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM-corpus curation pipeline, composed from the
    catalog's own operators — the flagship text workload:

      1. quality gate  (quality_score ≥ 0.5 — cheap map, runs first so
         everything downstream sees fewer rows)
      2. exact dedup   (md5 fingerprint, keep min doc_id)
      3. near-dup drop (shingle-Jaccard ≥ 0.8 among survivors, drop the
         larger doc_id of each pair) — regime-switched in curate_corpus:
         exact PPJoin at test scale (oracle-verifiable), minhash_lsh_pairs
         above 100k survivors (sub-quadratic; keep-list-superset safe)

    Output: the curated keep-list with per-doc quality. Stage order is
    the scale design: each stage shrinks the set the next (more
    expensive) stage touches."""
    docs = table(spark, sf_dir, "documents")
    kept = curate_corpus(docs, quality_min=0.5, near_threshold=0.8, use_lsh=False)
    return kept.select(
        "doc_id", "lang", "source", F.round("quality", 9).alias("quality")
    )


@query(
    "q58_winnow_fingerprints",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        [ ('0x'||substr(md5(substr(text, i, 8)), 1, 8))::UBIGINT::BIGINT
          for i in range(1, greatest(length(text) - 8 + 1, 0) + 1) ] AS hs
      FROM documents
    ),
    wins AS (
      SELECT doc_id,
        CASE WHEN len(hs) >= 4 THEN
          list_sort(list_distinct(
            [ list_min(hs[j:j+3]) for j in range(1, len(hs) - 4 + 1 + 1) ]))
        ELSE [] END AS fp
      FROM h
    )
    SELECT doc_id,
      CAST(len(fp) AS BIGINT) AS n_fp,
      md5(array_to_string(fp, ',')) AS fp_checksum
    FROM wins
    """,
)
def q58_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS scheme): per-window minima of char
    8-gram hashes, windows of 4 — any shared substring of length ≥ 11
    chars guarantees a common fingerprint, at ~1/4 the storage of full
    hashing. The driver-checkable shape is (count, md5-of-the-sorted-
    set): scalar columns that hash identically across engines, proving
    the full fingerprint SET matches, not just its size. Map-only."""
    docs = table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=8, w=4)
    return fp.select(
        "doc_id",
        F.size("fp").cast("bigint").alias("n_fp"),
        F.md5(F.concat_ws(",", F.transform("fp", lambda x: x.cast("string")))).alias(
            "fp_checksum"
        ),
    )


@query(
    "q59_group_split",
    oracle="""
    WITH tagged AS (
      SELECT source,
        CASE
          WHEN substr(md5(source), 32, 1) IN ('e', 'f') THEN
            CASE WHEN substr(md5(source), 32, 1) = 'e' THEN 'val' ELSE 'test' END
          ELSE 'train'
        END AS split,
        length(text) AS n_chars
      FROM documents
    )
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY source, split
    """,
)
def q59_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-leakage-safe train/val/test split: the md5 digit is taken
    over the GROUP key (source), not the row id, so every document of a
    source lands in the same split — near-duplicate documents within
    one source can never straddle train and eval (the leakage q44's
    per-doc split cannot prevent). Same determinism contract as q44:
    bit-portable, stable under re-runs/partitioning. The one-split-per-
    source invariant is asserted in tests."""
    docs = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("source")), 32, 1)
    split = F.when(digit == "e", "val").when(digit == "f", "test").otherwise("train")
    return (
        docs.select("source", split.alias("split"), F.length("text").alias("n_chars"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "q49_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    )
    SELECT u AS doc, least(u, min(v)) AS cluster FROM reach GROUP BY u
    """,
    headline=True,  # r11 bench-set: first graph consumer (VERDICT r10 task 6)
)
def q49_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the
    exact Jaccard≥0.6 pair graph (operators/graph.py — min-label
    propagation with pointer jumping, O(log diameter) rounds, two
    node-keyed shuffles per round). Transitive closure matters: A~B~C
    groups even when A!~C directly, which pairwise dedup (q33's drop
    rule) cannot express. The oracle computes the same components via
    a recursive reachability CTE — tractable at test scale, which is
    exactly why the iterative Spark formulation exists for the real
    one. Cluster id = min member doc_id (deterministic canonical
    representative)."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6)
    return connected_components(pairs).select(
        F.col("node").alias("doc"), "cluster"
    )


@query(
    "q69_incremental_dedup",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(trim(text)) AS fp FROM documents WHERE source = 'src1'
    ),
    batch AS (
      SELECT doc_id, source, md5(trim(text)) AS fp
      FROM documents WHERE source <> 'src1'
    ),
    keep AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY 1)
    SELECT b.doc_id, b.source FROM batch b
    JOIN keep k ON b.doc_id = k.doc_id
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
    """,
)
def q69_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: treat source 'src1' as the already-
    curated corpus (only its fingerprint INDEX is consulted — never the
    text) and dedup the remaining sources against it and within
    themselves. The shape that matters at 100 TB: history participates
    as 16-byte fingerprints, ideally bucketed so batch ingestion
    shuffles only the batch (operators/dedup.py incremental_dedup)."""
    from sales_data_pipeline_spark.operators.dedup import incremental_dedup
    from sales_data_pipeline_spark.operators.text import fingerprint as _fp

    docs = table(spark, sf_dir, "documents")
    history_index = docs.filter(F.col("source") == "src1").select(
        _fp("text").alias("fp")
    ).distinct()
    batch = docs.filter(F.col("source") != "src1")
    return incremental_dedup(batch, history_index).select("doc_id", "source")


@query(
    "q90_duplicated_cdc_chunks",
    oracle="""
    WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
    p AS (
      SELECT doc_id, i
      FROM t, unnest(range(1, greatest(L - 8 + 1, 0) + 1)) AS u(i)
      WHERE substr(md5(substr(text, i, 8)), 1, 1) = '0'
    ),
    cuts AS (
      SELECT doc_id, 1 AS c FROM t
      UNION
      SELECT doc_id, i + 8 AS c FROM p
      UNION
      SELECT doc_id, L + 1 AS c FROM t
    ),
    ordered AS (
      SELECT doc_id, c,
             lead(c) OVER (PARTITION BY doc_id ORDER BY c) AS nxt
      FROM cuts
    ),
    chunks AS (
      SELECT o.doc_id, substr(d.text, o.c, o.nxt - o.c) AS chunk
      FROM ordered o JOIN t d USING (doc_id)
      WHERE o.nxt IS NOT NULL AND o.nxt > o.c
    )
    SELECT md5(chunk) AS chunk_hash,
      CAST(min(length(chunk)) AS BIGINT) AS chunk_len,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(count(*) AS BIGINT) AS n_occurrences
    FROM chunks
    GROUP BY md5(chunk)
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q90_duplicated_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication census via content-defined chunking
    (operators/dedup.py cdc_chunks): boundaries fall where an 8-byte
    window's hash lands in the cut class, so shared boilerplate chunks
    align across documents regardless of byte offset — the dedup level
    between whole-document fingerprints (q21) and n-gram near-dup
    (q22): it finds EXACT shared substrings inside otherwise-different
    docs, robust to insertions (fixed-stride chunking shifts out of
    alignment; CDC re-synchronizes one window after any edit). Map-only
    chunking + ONE shuffle of (16-byte hash, counts); chunk text never
    leaves the map side."""
    from sales_data_pipeline_spark.operators.dedup import duplicated_chunks

    docs = table(spark, sf_dir, "documents")
    return duplicated_chunks(docs, window=8, min_docs=2)


@query(
    "q127_neardup_triangles",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      GROUP BY 1, 2, sa.n_sh, sb.n_sh
      HAVING count(*) / CAST(sa.n_sh + sb.n_sh - count(*) AS DOUBLE) >= 0.5
    ),
    tri AS (
      SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
      FROM pairs e1
      JOIN pairs e2 ON e1.doc_b = e2.doc_a
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    nodes AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def q127_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census over the near-dup similarity graph (Jaccard ≥
    0.5 pairs): per document, how many closed triples it participates
    in — triangles are the transitivity evidence that near-dup PAIRS
    form real duplicate CLUSTERS (q49's connected components can chain
    A–B–C without A–C; triangles can't), and triangle density is the
    standard cohesion metric before trusting cluster-level dedup
    decisions. Distributed shape: with edges canonically a<b, each
    triangle (x<y<z) is counted exactly once by joining wedge
    (x,y)+(y,z) against closing edge (x,z) — two keyed self-joins on
    the EDGE list (bounded by pair count, never docs²), then one
    explode+agg for per-node counts (operators/graph.triangle_counts
    since r10, carrying the DEFAULT-ON max_wedges=10⁸ dense-component
    guard: the r10 graph-consumer measurement put the wedge join at
    3.26×10⁸ candidates / 325× on the 64-mega-cluster corpus — the
    quadratic-in-cluster-size consumer the upstream q22 guard happened
    to shadow)."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from sales_data_pipeline_spark.operators.graph import triangle_counts

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    return triangle_counts(edges).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


@query(
    "q291_wedge_census",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    ind AS (SELECT doc_b AS y, count(*) AS d_in FROM pairs GROUP BY 1),
    outd AS (SELECT doc_a AS y, count(*) AS d_out FROM pairs GROUP BY 1)
    SELECT
      CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
      CAST(COALESCE(SUM(d_in * d_out), 0) AS BIGINT) AS n_wedges,
      COALESCE(SUM(d_in * d_out), 0) > 100000000 AS guard_would_fire
    FROM ind JOIN outd USING (y)
    """,
)
def q291_wedge_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled envelope for the triangle wedge-join guard (the
    q259/q283 estimator-audit pattern, r10): the guard's budget
    quantity — Σ over middle nodes y of in-deg(y)·out-deg(y) over the
    canonical a<b near-dup edge list — is EXACTLY the wedge join's
    output row count, and it is one SQL statement, so DuckDB pins it
    end-to-end (edge production included). Emits (n_edges, n_wedges,
    guard_would_fire) where guard_would_fire mirrors
    `triangle_counts`' default max_wedges=10⁸ decision on this graph;
    a drift in the shingle pipeline, the pair threshold, or the degree
    census flips a column. Same edge definition as q127 (Jaccard ≥
    0.5), so this row is also the cheap pre-flight a caller runs
    before the triangle query on an unknown graph — the q117-style
    'detect before you join' probe for wedge volume. Scale: two
    degree aggregates over the edge list + a 1-row sum; never
    enumerates a wedge."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    ind = edges.groupBy(F.col("doc_b").alias("y")).agg(
        F.count(F.lit(1)).alias("d_in")
    )
    outd = edges.groupBy(F.col("doc_a").alias("y")).agg(
        F.count(F.lit(1)).alias("d_out")
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        ind.join(outd, "y")
        .agg(
            F.coalesce(F.sum(F.col("d_in") * F.col("d_out")), F.lit(0))
            .cast("bigint")
            .alias("n_wedges")
        )
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_edges",
            "n_wedges",
            (F.col("n_wedges") > F.lit(100_000_000)).alias(
                "guard_would_fire"
            ),
        )
    )


@query(
    "q294_triangle_estimate",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    keep AS (
      SELECT doc_id, s.shingle FROM sh s
      JOIN dfreq d ON s.shingle = d.shingle AND d.df <= 1000
    ),
    cpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keep a JOIN keep b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    ind AS (SELECT doc_b AS y, count(*) AS d_in FROM cpairs GROUP BY 1),
    outd AS (SELECT doc_a AS y, count(*) AS d_out FROM cpairs GROUP BY 1),
    census AS (
      SELECT COALESCE(SUM(d_in * d_out), 0) AS w FROM ind JOIN outd USING (y)
    ),
    params AS (
      SELECT w, (SELECT count(*) FROM cpairs) AS n_edges,
        CASE WHEN w > 0 THEN LEAST(1.0, sqrt(100000.0 / CAST(w AS DOUBLE)))
             ELSE 1.0 END AS p
      FROM census
    ),
    s AS (
      SELECT doc_a AS x, doc_b AS y FROM cpairs, params
      WHERE CAST(('0x' || substr(md5('tri:' || CAST(doc_a AS VARCHAR) || ':'
                                 || CAST(doc_b AS VARCHAR)), 1, 13))
                 AS UBIGINT)::DOUBLE / 4503599627370496.0 < p
    ),
    tri AS (
      SELECT count(*) AS n_tri FROM s e1
      JOIN s e2 ON e1.y = e2.x
      JOIN s e3 ON e3.x = e1.x AND e3.y = e2.y
    )
    SELECT CAST(params.n_edges AS BIGINT) AS n_edges,
      CAST(params.w AS BIGINT) AS n_wedges,
      params.p AS sample_p,
      CAST(tri.n_tri AS BIGINT) AS n_triangles_sampled,
      CAST(tri.n_tri AS DOUBLE) / (params.p * params.p * params.p)
        AS est_triangles,
      params.p >= 1.0 AS exact_mode
    FROM tri, params
    """,
    headline=True,  # r11 bench-set: the served-past-the-fence sampled path
)
def q294_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion evidence that stays SERVEABLE past the exact
    triangle fence (round-11 task 1): a DOULION edge-sampled global
    triangle estimate (Tsourakakis et al., KDD 2009) over the
    shared-shingle CO-OCCURRENCE graph — the densest dup graph this
    corpus admits. At sf0.1 that graph carries 2.08x10^8 wedges, PAST
    triangle_counts' default 10^8 budget: the exact tier (q127's
    operator) refuses it by design, while this query answers in
    bounded time on the same input. The regime is a continuous dial,
    not a switch: p = min(1, sqrt(target_wedges / W)) with W the exact
    wedge census (the very quantity q291 oracles and the q127 guard
    fences), so expected post-sampling join volume is <= target_wedges
    (100k here) on ANY density, and a graph under the budget runs
    EXACT through the same plan (exact_mode=true) — q33's
    regime-switch precedent, with q291 as the oracled preflight.
    Sampling is the cross-engine md5-13-hex uniform, so the whole
    pipeline — edge production, census, p, sampled triangle join,
    1/p^3 scale-up — is replicated bitwise by the DuckDB oracle at
    BOTH driver SFs, sampled regime included (sf0.01: p~0.68, est
    within ~1.6% of the true 33,027; sf0.1: p~0.022 on 30.7M true
    triangles). Estimator error/unbiasedness envelope:
    tests/test_dedup.py::test_triangle_estimate_* (q259's
    estimator-audit pattern); the exact sibling stays q127
    (operators/graph.triangle_counts)."""
    from sales_data_pipeline_spark.operators.dedup import (
        shingle_cooccurrence_edges,
    )
    from sales_data_pipeline_spark.operators.graph import (
        triangle_count_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    edges = shingle_cooccurrence_edges(docs, max_shingle_freq=1000)
    return triangle_count_estimate(edges, target_wedges=100_000)


@query(
    "q297_jaccard_pair_estimate",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    d AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    census AS (SELECT COALESCE(SUM(df*(df-1)), 0) AS sp FROM d),
    params AS (
      SELECT sp, (SELECT count(*) FROM documents) AS n_docs,
        CASE WHEN sp > 0
             THEN LEAST(1.0, sqrt(10000.0 / (CAST(sp AS DOUBLE) / 2.0)))
             ELSE 1.0 END AS p
      FROM census
    ),
    samp AS (
      SELECT doc_id FROM documents, params
      WHERE CAST(('0x' || substr(md5('jac:' || CAST(doc_id AS VARCHAR)),
                                 1, 13)) AS UBIGINT)::DOUBLE
            / 4503599627370496.0 < p
    ),
    ssh AS (SELECT sh.* FROM sh JOIN samp USING (doc_id)),
    ssizes AS (SELECT doc_id, count(*) AS n_sh FROM ssh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM ssh a JOIN ssh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    np AS (
      SELECT count(*) AS n_pairs FROM common
      JOIN ssizes sa ON sa.doc_id = doc_a
      JOIN ssizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    )
    SELECT CAST(params.n_docs AS BIGINT) AS n_docs,
      CAST(params.sp // 2 AS BIGINT) AS cooccur_candidates,
      params.p AS sample_p,
      CAST(np.n_pairs AS BIGINT) AS n_pairs_sampled,
      CAST(np.n_pairs AS DOUBLE) / (params.p * params.p) AS est_pairs,
      params.p >= 1.0 AS exact_mode
    FROM np, params
    """,
)
def q297_jaccard_pair_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-census estimate past the exact-Jaccard fence — the
    serve-past-the-fence trilogy's third member (q294 triangles, q295
    density clusters, and now q22's PPJoin tier): sample documents at
    p = min(1, sqrt(target / C)) with C the exact shared-shingle
    co-occurrence volume (the engine-portable upper bound on PPJoin's
    candidate count), run the EXACT tier on the sample — its own
    default-on max_candidates guard holds trivially since expected
    post-sampling co-occurrence is p²·C <= target — and scale the pair
    count by 1/p² (unbiased: a pair survives iff both endpoints do;
    DOULION's argument one level up). Answers "how much exact
    near-duplication at J >= 0.6" in bounded time on corpora where
    q22 refuses by design (its pair LIST at scale remains q23's LSH);
    under-budget corpora run exact through the same plan. The md5
    doc-sampling and every downstream number are replicated bitwise by
    the DuckDB oracle at all driver SFs — sampled regime included
    (sf0.01: p~0.85, est 23.77 vs true 25). target_cooccur=10k here so
    every driver SF exercises sampling; the operator default is 10M
    (operators/dedup.py jaccard_pair_estimate)."""
    from sales_data_pipeline_spark.operators.dedup import (
        jaccard_pair_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    return jaccard_pair_estimate(docs, threshold=0.6, target_cooccur=10_000)


@query("q128_neardup_pagerank", oracle=None)
def q128_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup similarity graph: which
    documents sit at the CENTER of duplication neighborhoods — the
    canonical-representative signal when a dedup cluster keeps one doc
    (keep the hub, not a periphery variant; complements q49's min-id
    rule with a content-aware choice). oracle=None: a 10-iteration
    fixpoint isn't one SQL statement; covering checks in
    tests/test_dedup.py assert exact equality against a pure-Python
    reference on the same edges, rank-sum ≈ 1 conservation, and
    hub-ranks-highest on a planted star graph. Deterministic: fixed
    init/iterations, rounded output. 6 iterations: rank ORDER is stable
    well before values converge, and each checkpointed round is a real
    job on the driver's virgin-session shuffle width."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from sales_data_pipeline_spark.operators.graph import pagerank

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    pr = pagerank(edges, iters=6)
    return pr.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("rank")
    )  # unordered: a global sort of a corpus-sized output buys nothing


@query(
    "q147_neardup_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(src, node, d) AS (
      SELECT u, u, 0 FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT w.src, e.v, w.d + 1
      FROM walk w JOIN edges e ON w.node = e.u WHERE w.d < 12
    ),
    dist AS (
      SELECT src, node, CAST(min(d) AS BIGINT) AS hops FROM walk GROUP BY 1, 2
    ),
    root AS (SELECT node, min(src) AS root FROM dist GROUP BY node)
    SELECT d.node AS doc, r.root AS root, d.hops
    FROM dist d JOIN root r ON d.node = r.node AND d.src = r.root
    """,
)
def q147_neardup_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from each near-dup cluster's canonical doc
    (min doc_id): how many similarity hops separate every member from
    its representative — the chain-length diagnostic that tells a
    curation pipeline whether clusters are tight cliques (hops ≤ 1,
    safe to collapse) or long drift chains (A~B~C~…~Z where ends share
    nothing — collapse with care). Composes connected_components (root
    discovery) with the multi-source bfs_hops operator
    (operators/graph.py): per round one edge join + one keyed min-agg,
    O(diameter) rounds, no per-component materialization. The oracle
    recomputes shortest hops via a bounded recursive reachability CTE
    — tractable at test scale, which is exactly why the iterative
    Spark formulation exists for the real one."""
    from sales_data_pipeline_spark.operators.graph import bfs_hops

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    return bfs_hops(pairs).select(
        F.col("node").alias("doc"), "root", "hops"
    )


@query(
    "q150_repeated_ngram_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
    """,
)
def q150_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram census — the memorization-risk /
    boilerplate-span audit (the aggregate core of suffix-array-style
    exact-substring dedup, Lee et al. 2021 'Deduplicating Training
    Data Makes Language Models Better', arXiv:2107.06499): every word
    5-gram occurring in ≥ 3 distinct documents, with total occurrence
    and document counts. Counts every OCCURRENCE (operators.text.
    ngrams, not the deduplicated shingles), so within-doc repetition
    is visible too. Plan: tokens projected once, explode_outer (the
    InferFiltersFromGenerate guard — see dedup._shingle_index), ONE
    keyed aggregation computing both counts — map-side combined,
    linear in corpus size; the ≥3-docs filter is applied post-agg on
    the already-tiny survivor set."""
    from sales_data_pipeline_spark.operators.text import (
        ngrams_from_tokens,
        tokens as _tokens,
    )

    docs = table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", _tokens("text").alias("__t"))
        .select("doc_id", ngrams_from_tokens("__t", 5).alias("__g"))
        .select("doc_id", F.explode_outer("__g").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 3)
    )


@query(
    "q151_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    clusters AS (SELECT u AS node, least(u, min(v)) AS cluster FROM reach GROUP BY u),
    keyed AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS split_key
      FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
    )
    SELECT doc_id, split_key,
      CASE
        WHEN substr(md5(CAST(split_key AS VARCHAR)), 32, 1) = 'e' THEN 'val'
        WHEN substr(md5(CAST(split_key AS VARCHAR)), 32, 1) = 'f' THEN 'test'
        ELSE 'train'
      END AS split
    FROM keyed
    """,
)
def q151_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: q44's deterministic md5-digit
    split, but keyed on the doc's near-dup CLUSTER representative
    instead of its own id, so a whole cluster of near-duplicates lands
    in ONE split atomically — the fix for the contamination channel
    q79 merely detects (a train doc's near-copy in test inflates eval).
    Docs in no cluster key on themselves. Same determinism guarantees
    as q44 (same doc → same split on any cluster size/partitioning;
    new docs never reshuffle old ones) because the cluster id is the
    min member doc_id — itself stable under data growth unless the
    cluster gains a smaller-id member (i.e. exactly when its identity
    changes). Composition: near-dup pairs → connected_components →
    one left join + a map-only hash — nothing here is new machinery,
    which is the point."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    clusters = connected_components(pairs)
    keyed = (
        docs.join(clusters, docs.doc_id == clusters.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("split_key"),
        )
    )
    digit = F.substring(F.md5(F.col("split_key").cast("string")), 32, 1)
    split = (
        F.when(digit == "e", "val").when(digit == "f", "test").otherwise("train")
    )
    return keyed.select("doc_id", "split_key", split.alias("split"))


@query(
    "q152_vocab_oov_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
    vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT 25),
    stats AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok t LEFT JOIN vocab v USING (tok) GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           round(n_oov / n_tokens, 6) AS oov_rate
    FROM stats
    """,
)
def q152_vocab_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build + out-of-vocabulary audit: the top-25
    tokens by corpus frequency (ties broken on the token string —
    deterministic across engines) become the vocabulary; every doc then
    reports its token count, OOV count, and OOV rate — the coverage
    check run before committing to a tokenizer/vocab size. Plan: one
    token explode feeding (a) the frequency aggregate whose top-K is a
    TakeOrdered (K rows to the driver, no global sort) and (b) the
    per-doc join side; the vocabulary is BROADCAST (bounded at K by
    construction), so the audit costs one keyed doc aggregation."""
    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode_outer(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(25)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


@query(
    "q155_recursive_closure_sql",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v, d) AS (
      SELECT u, v, 1 FROM edges
      UNION ALL
      SELECT r.u, e.v, r.d + 1 FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u AND r.d < 4
    )
    SELECT u AS doc, least(u, min(v)) AS cluster FROM reach GROUP BY u
    """,
)
def q155_recursive_closure_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure via Spark's NATIVE recursive CTE (WITH
    RECURSIVE, Spark 4.x) — the SQL-surface counterpart of q49's
    iterative connected_components, run as ONE SQL statement on both
    engines with the identical bounded formulation (UNION ALL + depth
    cap 4 + no-backtrack guard; Spark does not yet support
    UNION-distinct recursion, so the recursion enumerates bounded
    PATHS and the outer GROUP BY collapses them). Correct whenever the
    component diameter ≤ the cap — true by construction for near-dup
    clusters at the 0.6 threshold (they are near-cliques; q147
    measures hops ≤ 1 on this corpus).

    SCALE NOTE: path enumeration without per-round dedup grows as
    degree^depth — this is the convenience form for bounded graphs and
    ad-hoc SQL; the 100 TB path is the checkpointed iterative operator
    (q49), which dedups labels every round. Registered precisely to
    pin the engine's recursive-SQL surface with an oracle."""
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    pairs.createOrReplaceTempView("q155_near_pairs")
    return spark.sql("""
      WITH RECURSIVE edges AS (
        SELECT doc_a AS u, doc_b AS v FROM q155_near_pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM q155_near_pairs
      ),
      reach(u, v, d) AS (
        SELECT u, v, 1 FROM edges
        UNION ALL
        SELECT r.u, e.v, r.d + 1 FROM reach r JOIN edges e ON r.v = e.u
        WHERE e.v <> r.u AND r.d < 4
      )
      SELECT u AS doc, least(u, min(v)) AS cluster FROM reach GROUP BY u
    """)


@query(
    "q166_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    clusters AS (SELECT u AS node, least(u, min(v)) AS cluster FROM reach GROUP BY u),
    scored AS (
      SELECT c.cluster, c.node AS doc_id,
        (CASE WHEN len(string_split(d.text,' ')) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END) * 0.4
        + (len(list_distinct(string_split(d.text,' '))) / len(string_split(d.text,' '))) * 0.3
        + least(len(list_filter(string_split(d.text,' '), x -> x IN {_STOP_SQL}))
                / len(string_split(d.text,' ')) * 10.0, 1.0) * 0.3 AS quality
      FROM clusters c JOIN documents d ON d.doc_id = c.node
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
      min(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
      min(CASE WHEN rn = 1 THEN quality END) AS rep_quality
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn
      FROM scored
    ) GROUP BY cluster
    """,
)
def q166_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-AWARE canonical selection for near-dup clusters: instead
    of q49's min-id representative, keep each cluster's highest-QUALITY
    member (tie → smaller doc_id) — what a curation pipeline actually
    wants when a cluster mixes a clean original with mangled variants.
    Composition: connected components → quality_score join →
    deterministic per-cluster argmax (max_by over a (quality, −doc_id)
    struct — one aggregation over the cluster-member table, never a
    per-cluster collect). quality_score is the same
    cross-engine-bit-stable expression q19 oracle-checks, so the
    argmax picks the identical row in both engines."""
    from sales_data_pipeline_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    clusters = connected_components(pairs)
    scored = clusters.join(
        docs.select("doc_id", quality_score("text").alias("quality")),
        clusters.node == F.col("doc_id"),
    )
    best = F.max_by(
        F.struct(F.col("doc_id").alias("rep_doc"), F.col("quality").alias("rep_quality")),
        F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        scored.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            best.alias("__b"),
        )
        .select(
            "cluster", "n_members",
            F.col("__b.rep_doc").alias("rep_doc"),
            F.col("__b.rep_quality").alias("rep_quality"),
        )
    )


@query("q168_fuzzy_contamination")  # banded-LSH recall: rows-only check
def q168_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination census: corpus docs (sources ≠
    src1) whose shingle Jaccard vs any src1 'benchmark' doc is ≥ 0.5,
    via bipartite MinHash-LSH (operators/dedup.py
    fuzzy_contamination_pairs). Complements q54/q87, which catch only
    verbatim 5-gram overlap — this catches paraphrased/truncated
    leakage. No SQL oracle (banded recall is probabilistic); covering
    checks: tests/test_dedup.py::test_fuzzy_contamination_* (planted
    paraphrase caught, verbatim copy at jaccard 1.0, clean docs kept,
    decontaminate removes exactly the flagged ids)."""
    from sales_data_pipeline_spark.operators.dedup import fuzzy_contamination_pairs

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src1").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.filter(F.col("source") != "src1")
    return fuzzy_contamination_pairs(corpus, bench, threshold=0.5)


@query(
    "q169_cross_source_dup_matrix",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def q169_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance view of duplication: near-dup pair counts aggregated
    by UNORDERED source pair — the matrix that tells a corpus builder
    WHERE duplication comes from (within one crawl? mirrored across
    two feeds?) and which acquisition to de-prioritize. Two broadcast
    joins attach sources to the (tiny relative to the corpus) pair
    list; least/greatest canonicalize the pair so (src1,src2) and
    (src2,src1) land in one cell."""
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@query(
    "q177_lang_label_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled,
        CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
                  / len(string_split(text, ' ')) >= 0.03
             THEN 'en' ELSE 'other' END AS predicted
      FROM documents
    )
    SELECT labeled, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def q177_lang_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality confusion matrix: the heuristic language ID (q18)
    cross-tabulated against the corpus's PROVIDED lang labels — the
    audit that decides whether to trust upstream metadata or re-derive
    it (off-diagonal mass = mislabeled docs or classifier misses,
    either way a curation decision). One map-side expression + one
    keyed count; the matrix is |langs|² rows."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled"),
            lang_id("text").alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@query(
    "q178_token_pmi",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY 1),
    vocab AS (SELECT tok, df FROM freq ORDER BY df DESC, tok LIMIT 20),
    vt AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_both
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT tok_a, tok_b, n_both, fa.df AS df_a, fb.df AS df_b,
      round(ln(n_both * n.n_docs / (fa.df * CAST(fb.df AS DOUBLE))), 6) AS pmi
    FROM pairs
    JOIN vocab fa ON fa.tok = tok_a
    JOIN vocab fb ON fb.tok = tok_b, n
    """,
)
def q178_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level pointwise mutual information
    for pairs of top-20 vocabulary tokens — PMI > 0 means the pair
    co-occurs more than independence predicts (phrase candidates,
    template detection), PMI < 0 means complementary distribution
    (register/topic separation). The VOCAB CAP is the scale control:
    pair space is bounded at |V|² = 190 BEFORE any join (the same
    anti-monotone prune as q146 — an infrequent token can't make a
    high-support pair); per-doc presence is deduplicated first, so tf
    skew inside a doc never inflates df-based PMI. ln over exact
    integer ratios, rounded 6 (q70's libm contract)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isNotNull()).distinct()
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    vocab = freq.orderBy(F.col("df").desc(), "tok").limit(20)
    vt = toks.join(F.broadcast(vocab.select("tok")), "tok")
    n_docs = toks.select("doc_id").distinct().count()
    a = vt.select("doc_id", F.col("tok").alias("tok_a"))
    b = vt.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    fa = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    fb = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = F.round(
        F.log(
            F.col("n_both") * F.lit(n_docs)
            / (F.col("df_a") * F.col("df_b").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .select("tok_a", "tok_b", "n_both", "df_a", "df_b", pmi.alias("pmi"))
    )


@query("q179_incremental_neardup")  # estimator-thresholded: rows-only check
def q179_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental INGESTION near-dup gate: incoming docs (sources ≠
    src1) checked against the signature-only MinHash index of the
    already-curated src1 history — the fuzzy counterpart of q69's
    exact fingerprint anti-join, and the shape where history's TEXT is
    never re-read (64 longs per historical doc is the entire stored
    state). Pairs are estimator-thresholded (Ĵ = matching components /
    64, unbiased, σ≈0.06 at the threshold) — no SQL oracle; covering
    checks: tests/test_dedup.py::test_incremental_neardup_* (verbatim
    Ĵ=1, planted near-dup caught, novel docs pass, Ĵ within 3σ of
    exact Jaccard on real corpus pairs)."""
    from sales_data_pipeline_spark.operators.dedup import (
        incremental_neardup_lsh,
        minhash_index,
    )

    docs = table(spark, sf_dir, "documents")
    history = docs.filter(F.col("source") == "src1").select("doc_id", "text")
    batch = docs.filter(F.col("source") != "src1").select("doc_id", "text")
    return incremental_neardup_lsh(batch, minhash_index(history), threshold=0.5)


@query(
    "q181_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a AS inner_doc, c.doc_b AS outer_doc,
      CAST(c.n_common AS BIGINT) AS n_common,
      CAST(sa.n_sh AS BIGINT) AS n_inner,
      round(c.n_common / CAST(sa.n_sh AS DOUBLE), 6) AS containment,
      round(c.n_common / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE), 6)
        AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE c.n_common / CAST(sa.n_sh AS DOUBLE) >= 0.8
      AND c.n_common / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE) < 0.6
    """,
)
def q181_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT detection: ordered pairs where ≥ 80% of the
    inner doc's shingles appear in the outer doc while symmetric
    Jaccard stays BELOW the dedup threshold — exactly the
    doc-quoted-inside-doc / excerpt-of-article case that
    Jaccard-based dedup structurally misses (a small doc inside a
    large one has tiny Jaccard however complete the inclusion;
    Broder's resemblance-vs-containment distinction, public). Directed
    output: (inner_doc, outer_doc, containment, jaccard). Shares the
    q22 machinery's cost shape — shingle inverted index, common-count
    aggregation keyed on the pair — with the asymmetric normalization
    applied at the end; the Jaccard < t guard keeps the result
    disjoint from what near-dup dedup already handles."""
    from sales_data_pipeline_spark.operators.dedup import (
        _shingle_index,
        _shingle_sets,
    )

    docs = table(spark, sf_dir, "documents")
    occ = _shingle_index(docs, "doc_id", "text", 3)
    a = occ.select(F.col("doc").alias("doc_a"), "shingle")
    b = occ.select(F.col("doc").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sizes = _shingle_sets(docs, "doc_id", "text", 3).select(
        "doc", F.size("sh").alias("n_sh")
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_common") / F.col("n_a").cast("double")
    jac = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((cont >= 0.8) & (jac < 0.6))
        .select(
            F.col("doc_a").alias("inner_doc"),
            F.col("doc_b").alias("outer_doc"),
            "n_common",
            F.col("n_a").cast("bigint").alias("n_inner"),
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query("q191_lpa_communities", oracle=None)
def q191_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup similarity graph by
    synchronous label propagation — the finer-grained companion to
    q49's connected components: CC merges two dense duplication
    clusters the moment ONE accidental pair bridges them, while LPA
    keeps them apart unless the bridge carries plurality weight, so
    the community census is the better input for "how many distinct
    duplication families does this corpus actually have". oracle=None:
    a fixed-point plurality vote isn't one SQL statement; covering
    tests (tests/test_dedup.py) assert exact community splits on
    planted two-clique bridges, a pure-Python synchronous-LPA
    reference match, and partition-invariance. Deterministic by
    construction (synchronous rounds, min-label tie-break, fixed 5
    iterations — operators/graph.py label_propagation)."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from sales_data_pipeline_spark.operators.graph import label_propagation

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    lp = label_propagation(edges, iters=5)
    return (
        lp.groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )  # unordered: |communities| scales with the corpus


@query(
    "q201_exact_substring_dedup",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, i, t[i] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    grams AS (
      SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, i,
        row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
      FROM grams
    ),
    dups AS (SELECT doc_id, i FROM ranked WHERE rn > 1),
    deltas AS (
      SELECT doc_id, pos, CAST(sum(d) AS BIGINT) AS d FROM (
        SELECT doc_id, i AS pos, 1 AS d FROM dups
        UNION ALL
        SELECT doc_id, i + 5 AS pos, -1 AS d FROM dups
      ) GROUP BY 1, 2
    ),
    cov AS (
      SELECT p.doc_id, p.i, p.tok,
        CAST(sum(coalesce(d.d, 0)) OVER (PARTITION BY p.doc_id ORDER BY p.i
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM pos p LEFT JOIN deltas d ON d.doc_id = p.doc_id AND d.pos = p.i
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN cum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE cum = 0), '')
        AS cleaned
    FROM cov GROUP BY 1
    """,
)
def q201_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL — the surgical half of Lee et al.
    2021 (arXiv:2107.06499) whose census is q150: every non-first
    occurrence of a duplicated word 5-gram is cut from its document
    (global first occurrence keeps — min (doc_id, position), a total
    order), and documents are reassembled from their surviving tokens.
    This removes boilerplate/memorization SPANS while keeping the
    rest of the document, which whole-doc dedup (q21/q23) cannot do.

    The naive formulation marks each removed occurrence's 5 tokens —
    token×n blowup and overlapping-span double counting. Instead,
    removal spans become INTERVAL ENDPOINTS (+1 at start, −1 past
    end) and coverage is ONE cumulative sum per document: a token is
    kept iff its running coverage is zero — linear, overlap-safe, and
    the identical algebra runs on both engines. Plan: one shuffle on
    gram (the global first-occurrence argmin), one on (doc, pos)
    (endpoint fold + the per-doc window/reassembly); grams stream
    through explode_outer (InferFiltersFromGenerate guard). At 100 TB
    the gram argmin is the big shuffle — the same key-only shape as
    exact dedup q21, no doc content travels with it."""
    from sales_data_pipeline_spark.operators.text import (
        ngrams_from_tokens,
        tokens as _tokens,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens("text").alias("__t")
    )
    toks = (
        docs.select("doc_id", F.posexplode_outer("__t").alias("ti", "tok"))
        .filter(F.col("tok").isNotNull())
        .select("doc_id", (F.col("ti") + 1).alias("pos"), "tok")
    )
    grams = (
        docs.select(
            "doc_id", ngrams_from_tokens("__t", 5).alias("__g")
        )
        .select("doc_id", F.posexplode_outer("__g").alias("gi", "gram"))
        .filter(F.col("gram").isNotNull())
        .select("doc_id", (F.col("gi") + 1).alias("i"), "gram")
    )
    firsts = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "i")).alias("first")
    )
    dups = grams.join(firsts, "gram").filter(
        ~(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("i") == F.col("first.i"))
        )
    )
    deltas = (
        dups.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(F.col("i").alias("pos"), F.lit(1).alias("d")),
                    F.struct(
                        (F.col("i") + 5).alias("pos"), F.lit(-1).alias("d")
                    ),
                )
            ).alias("e"),
        )
        .select("doc_id", "e.pos", "e.d")
        .groupBy("doc_id", "pos")
        .agg(F.sum("d").cast("bigint").alias("d"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cov = (
        toks.join(deltas, ["doc_id", "pos"], "left")
        .withColumn(
            "cum", F.sum(F.coalesce("d", F.lit(0))).over(w).cast("bigint")
        )
    )
    kept = F.when(F.col("cum") == 0, F.struct("pos", "tok"))
    return cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cum") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda x: x.tok
            ),
        ).alias("cleaned"),
    )


@query("q203_neardup_kcore", oracle=None)
def q203_neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup similarity graph: documents embedded in
    CYCLES of similarity (each keeping ≥ 2 similar neighbors after
    pendant chains/stars peel away) — the density lens that separates
    "genuine duplication neighborhood" from "one accidental pair
    dangling off a cluster", which is exactly where CC over-merges
    (q49) and the reason LPA (q191) and this query exist side by
    side. oracle=None: a peeling fixpoint isn't one SQL statement;
    covering tests pin hand-verifiable cores (chains vanish, cycles
    survive, pendant vertices peel off cliques), cascade peeling, and
    checkpoint-mode equality (tests/test_dedup.py). Deterministic —
    a pure set fixpoint."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from sales_data_pipeline_spark.operators.graph import k_core

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    return k_core(edges, k=2)  # unordered: corpus-sized output


@query(
    "q210_dedup_loss_weights",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u
    ),
    cc AS (
      SELECT u AS doc, least(u, min(v)) AS cluster FROM reach GROUP BY u
    ),
    assigned AS (
      SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN cc ON cc.doc = d.doc_id
    ),
    csize AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
      FROM assigned GROUP BY 1
    )
    SELECT a.doc_id, a.cluster, s.cluster_size,
      1.0 / s.cluster_size AS weight
    FROM assigned a JOIN csize s ON a.cluster = s.cluster
    """,
)
def q210_dedup_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware LOSS WEIGHTS: every document gets training
    weight 1/|its near-dup cluster| — the soft alternative to hard
    dedup (q33 keeps one doc and drops the rest; this keeps ALL docs
    but makes each duplication family contribute exactly one
    document's worth of gradient, so no content is lost and no
    family is over-represented). Singletons — docs in no near-dup
    pair — keep weight 1 via the left join, so Σweights =
    #distinct-content families by construction. Composition: exact
    Jaccard≥0.6 pairs → connected components (operators/graph.py) →
    cluster-size census → broadcast weight join; the only new work
    beyond q49 is one |clusters| aggregate. Weight is 1/int — a
    single exact-operand IEEE division, bitwise cross-engine."""
    from sales_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from sales_data_pipeline_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
        )
    )
    csize = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return assigned.join(F.broadcast(csize), "cluster").select(
        "doc_id",
        "cluster",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    )


@query("q219_bloom_dedup_gate", oracle=None)
def q219_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admission gate for incremental dedup: fold the
    HISTORY's fingerprints (docs with doc_id % 10 ≠ 0 here) into a
    2²⁰-bit filter, then gate the incoming batch (all docs) through
    it and admit only the definitely-new. The sketch-backed sibling
    of q69/q179's exact anti-join gates: at 100 TB the fingerprint
    index itself is too big to shuffle per micro-batch, while the
    bitmap is ≤ m/64 longs, broadcast once, probed map-side
    (operators/sketch.py bloom_build/bloom_gate — bit_or folding is
    map-side mergeable, the gate is one broadcast join + bool_and).

    No false negatives by construction (every history fingerprint
    probes the very bits it set), so the gate can never re-admit a
    known duplicate; false positives only shave recall of new docs,
    ≈(1−e^{−kn/m})^k < 0.1% at these sizes. oracle=None: DuckDB has
    no xxhash64 to rebuild the identical bit pattern; covering tests
    assert the no-false-negative invariant and FP bound vs the exact
    anti-join (tests/test_dedup.py::test_bloom_*). Deterministic:
    seeded xxhash64 positions, integer bit ops."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build, bloom_gate

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    history = docs.filter(F.col("doc_id") % 10 != 0)
    bitmap = bloom_build(history, "fp")
    gate = bloom_gate(bitmap, docs, "fp")
    return (
        docs.join(gate, "fp")
        .filter(~F.col("maybe_seen"))
        .select("doc_id", "fp")
    )  # unordered: corpus-sized output


@query("q224_duplication_index", oracle=None)
def q224_duplication_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DUPLICATION INDEX: the mean pairwise Jaccard similarity
    of the whole corpus, estimated from MinHash collision rates — one
    health number summarizing how duplicate-ridden a crawl is, cheap
    enough to run per-ingest (the all-pairs mean is O(N²) and dead at
    scale; this is one signature pass + a bounded aggregate).

    Math: for each of the 64 permutations, P(two docs collide on that
    component) = their Jaccard; so E[per-permutation collision-pair
    share] = mean pairwise Jaccard. Collision pairs per permutation =
    Σ_v C(count_v, 2) — a per-value count aggregate (map-side
    mergeable), never a pair join. The estimator averages 64
    independent permutations over ALL C(N,2) pairs, so its variance
    is tiny even at small corpora (tests pin it within 0.01 of the
    exact all-pairs mean at sf0.01 — exact is feasible there only).
    oracle=None: xxhash64 signatures aren't rebuildable in DuckDB.
    Deterministic: seeded permutations, integer counts."""
    from sales_data_pipeline_spark.operators.dedup import minhash_signatures

    docs = table(spark, sf_dir, "documents")
    num_perm = 64
    sig = minhash_signatures(docs, "doc_id", "text", num_perm=num_perm)
    stacked = sig.select(
        F.posexplode(F.array(*[F.col(f"h{i}") for i in range(num_perm)])).alias(
            "perm", "v"
        )
    )
    per_perm = (
        stacked.groupBy("perm", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy("perm")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("coll_pairs"),
            F.sum("c").cast("bigint").alias("n_docs"),
        )
    )
    return per_perm.agg(
        F.min("n_docs").alias("n_docs"),
        F.lit(num_perm).cast("bigint").alias("n_permutations"),
        F.round(
            F.avg(
                F.col("coll_pairs")
                / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1) / 2)
            ),
            6,
        ).alias("mean_jaccard_est"),
    )


@query(
    "q226_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM tri GROUP BY g)
    SELECT d.doc_id,
      CAST(count(tri.g) AS BIGINT) AS n_trigrams,
      round(coalesce(
        avg(CASE WHEN dfreq.df = 1 THEN 1.0 ELSE 0.0 END), 0), 6) AS novelty
    FROM documents d
    LEFT JOIN tri ON tri.doc_id = d.doc_id
    LEFT JOIN dfreq ON dfreq.g = tri.g
    GROUP BY d.doc_id
    """,
)
def q226_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out NOVELTY score per document: the share of its
    distinct word trigrams that appear in NO other document (corpus
    document-frequency 1). High novelty = fresh content; low = the
    doc is stitched from corpus-common phrasing — the per-document
    complement of q224's corpus-level duplication index, and a
    ranking signal for dedup-aware sampling (novel docs first).

    Unlike the hashed-shingle operators (oracle-blind), trigrams here
    are PLAIN STRINGS so DuckDB rebuilds them bit-identically.
    Plan: trigram generation is a map-side transform over the token
    array (explode_outer + null-filter — the InferFiltersFromGenerate
    guard from operators/dedup.py), per-doc dedup and the
    document-frequency table are mergeable groupBys keyed by trigram,
    and the novelty join is trigram-keyed equi — everything linear in
    total trigram volume, no pair joins. The integer df counts make
    novelty = novel/total one exact division, rounded to 6."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tri_arr = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = (
        docs.select("doc_id", F.explode_outer(tri_arr).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    dfreq = tri.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = tri.join(dfreq, "g").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.round(
            F.avg((F.col("df") == 1).cast("double")), 6
        ).alias("novelty"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0)).cast("bigint").alias("n_trigrams"),
            F.coalesce("novelty", F.lit(0.0)).alias("novelty"),
        )
    )


@query(
    "q227_source_similarity",
    oracle="""
    WITH c AS (
      SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    ),
    tot AS (SELECT source, sum(c) AS tot FROM c GROUP BY source),
    smin AS (
      SELECT a.source AS source_a, b.source AS source_b,
             sum(least(a.c, b.c)) AS smin
      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT ta.source AS source_a, tb.source AS source_b,
      round(coalesce(smin.smin, 0)
            / (ta.tot + tb.tot - coalesce(smin.smin, 0)), 6)
        AS weighted_jaccard
    FROM tot ta JOIN tot tb ON ta.source < tb.source
    LEFT JOIN smin
      ON smin.source_a = ta.source AND smin.source_b = tb.source
    """,
)
def q227_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Jaccard similarity between every pair of SOURCES'
    token-count vectors — the cross-source contamination/overlap
    matrix a mixture designer reads before setting weights (q76),
    next to q71's distributional JS divergence.

    The identity that makes it scale: Σ_t max(a_t, b_t) =
    A + B − Σ_t min(a_t, b_t), so only the INNER token join is ever
    computed (Σ min vanishes outside the intersection) — tokens
    unique to one source never join anything, and the per-source
    totals are one aggregate. The token-keyed equi-join is linear in
    vocabulary size; the |sources|² pair frame is a bounded broadcast
    cross. Counts are exact integers in float64; one division,
    rounded to 6."""
    docs = table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tot = c.groupBy("source").agg(F.sum("c").alias("tot"))
    a = c.select(F.col("source").alias("source_a"), "tok", F.col("c").alias("ca"))
    b = c.select(F.col("source").alias("source_b"), "tok", F.col("c").alias("cb"))
    smin = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.least("ca", "cb")).alias("smin"))
    )
    pairs = (
        tot.select(F.col("source").alias("source_a"), F.col("tot").alias("ta"))
        .crossJoin(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_b"), F.col("tot").alias("tb")
                )
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.join(F.broadcast(smin), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.coalesce("smin", F.lit(0.0))
                / (F.col("ta") + F.col("tb") - F.coalesce("smin", F.lit(0.0))),
                6,
            ).alias("weighted_jaccard"),
        )
    )


@query(
    "q231_effective_dataset_size",
    oracle="""
    WITH d AS (
      SELECT md5(text) AS fp,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
             CAST(min(n_tok) AS BIGINT) AS tok1,
             CAST(sum(n_tok) AS BIGINT) AS tok_all
      FROM d GROUP BY fp
    )
    SELECT CAST(sum(n_copies) AS BIGINT) AS n_docs,
      CAST(count(*) AS BIGINT) AS n_unique_docs,
      CAST(sum(tok_all) AS BIGINT) AS total_tokens,
      CAST(sum(tok1) AS BIGINT) AS unique_tokens,
      1 - CAST(sum(tok1) AS DOUBLE) / CAST(sum(tok_all) AS DOUBLE)
        AS dup_token_share
    FROM g
    """,
)
def q231_effective_dataset_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-adjusted EFFECTIVE dataset size: raw vs unique doc
    and token counts under exact (fingerprint) dedup, and the share
    of the token budget that is literal repetition — the headline
    number a training-data owner quotes ('X B tokens, Y B effective')
    and the denominator for q210's duplication-aware loss weights.

    Identical copies share one md5 fingerprint; per-fingerprint
    min/sum token counts collapse in ONE mergeable groupBy (shuffle
    keyed by fingerprint, partial aggregation map-side), then a
    single global fold of the ≤|unique| rows. Every output is an
    exact integer except the final share — one double division of
    exact integers, so NO rounding is needed and the value is
    bitwise identical cross-engine (the q229 lesson applied from the
    start)."""
    d = table(spark, sf_dir, "documents").select(
        F.md5("text").alias("fp"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    g = d.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("n_tok").alias("tok1"),
        F.sum("n_tok").alias("tok_all"),
    )
    return g.agg(
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
        F.sum("tok_all").cast("bigint").alias("total_tokens"),
        F.sum("tok1").cast("bigint").alias("unique_tokens"),
        (
            1
            - F.sum("tok1").cast("double") / F.sum("tok_all").cast("double")
        ).alias("dup_token_share"),
    )


# ---------------------------------------------------------------------------
# q240 — duplicated passage census (exact 8-token window sharing)
# ---------------------------------------------------------------------------


@query(
    "q240_duplicated_passages",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    win AS (
      SELECT DISTINCT doc_id,
        array_to_string(list_slice(t, i, i + 7), ' ') AS passage
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      WHERE len(t) >= 8
    ),
    census AS (
      SELECT passage, CAST(count(*) AS BIGINT) AS n_docs
      FROM win GROUP BY passage
      HAVING count(*) >= 2
    )
    SELECT passage, n_docs
    FROM census
    ORDER BY n_docs DESC, passage
    LIMIT 15
    """,
)
def q240_duplicated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-PASSAGE census: every 8-token sliding window,
    ranked by how many distinct documents contain it verbatim — the
    fine-grained sibling of whole-doc dedup (q21) and long-span
    substring dedup (q179): memorization audits care about any
    verbatim span crossing document boundaries (boilerplate headers,
    license blocks, templated intros), not just full-doc copies.
    Windows are PLAIN STRINGS (q226's oracle-transparency rule:
    hashed shingles are oracle-blind, strings rebuild bit-identically
    in DuckDB). Plan: window generation is a map-side transform over
    the token array (explode_outer + null-filter, the
    InferFiltersFromGenerate guard), per-doc distinct + the census are
    passage-keyed mergeable groupBys — linear in total window volume,
    no pair joins anywhere; the top-15 is a TakeOrdered over the
    census, never a global sort. At 100 TB swap the passage STRING key
    for its 128-bit hash and keep one exemplar string per bucket —
    same plan shape, fixed-width shuffle keys."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    win_arr = F.when(
        F.size(toks) >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 8),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i + 1, 8)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    win = (
        docs.select("doc_id", F.explode_outer(win_arr).alias("passage"))
        .filter(F.col("passage").isNotNull())
    )
    return (
        win.groupBy("passage")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "passage")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q241 — length-vs-duplication calibration (is length a dedup proxy?)
# ---------------------------------------------------------------------------


@query(
    "q241_length_dup_calibration",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars, md5(trim(text)) AS fp FROM documents
    ),
    g AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS group_size FROM d GROUP BY fp
    ),
    ranked AS (
      SELECT d.doc_id, d.n_chars, g.group_size,
        row_number() OVER (ORDER BY d.n_chars, d.doc_id) AS rn,
        count(*) OVER () AS n
      FROM d JOIN g ON g.fp = d.fp
    )
    SELECT CAST((5 * (rn - 1)) // n + 1 AS BIGINT) AS length_quintile,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(min(n_chars) AS BIGINT) AS min_chars,
      CAST(max(n_chars) AS BIGINT) AS max_chars,
      CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_duplicated,
      CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) AS dup_rate
    FROM ranked
    GROUP BY 1 ORDER BY 1
    """,
)
def q241_length_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate by document-length quintile — the calibration
    readout behind the folk heuristic 'short docs are mostly dups':
    if dup_rate falls monotonically with length, cheap length filters
    deduplicate cheaply before any fingerprint pass. Exactness:
    duplicate membership is the md5 full-text fingerprint (q21's
    definition), quintile boundaries use the integer-exact
    ⌊5(rn−1)/n⌋+1 rank arithmetic (never float n/5 — the q153/q158
    multiples-misround lesson), and dup_rate is one double division
    of exact integers. The global rank over |documents| runs as the
    two-phase operators/scale.distributed_rank (r9 — bitwise
    row_number, no single-partition window) with the corpus count
    attached as a broadcast scalar; the oracle keeps the plain-window
    statement. At 10⁹ docs the even-cheaper alternative remains
    percentile_approx cut-points exactly as q235/q236 do for
    Gini/QQ (same recipe, registered there)."""
    from sales_data_pipeline_spark.operators.scale import distributed_rank

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "n_chars", F.md5(F.trim(F.col("text"))).alias("fp")
    )
    g = d.groupBy("fp").agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
    joined = d.join(g, "fp")
    n_total = joined.agg(F.count(F.lit(1)).alias("n"))
    ranked = distributed_rank(
        joined, "n_chars", "doc_id", "rn", descending=False
    ).crossJoin(F.broadcast(n_total)).select("n_chars", "group_size", "rn", "n")
    dup = (F.col("group_size") > 1).cast("int")
    return (
        ranked.groupBy(
            (F.expr("(5 * (rn - 1)) div n") + 1).alias("length_quintile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum(dup).cast("bigint").alias("n_duplicated"),
            (
                F.sum(dup).cast("double") / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
        .orderBy("length_quintile")
    )


# ---------------------------------------------------------------------------
# q244 — source marginal novelty ladder (data-mixing ROI curve)
# ---------------------------------------------------------------------------


@query(
    "q244_source_novelty_ladder",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    tri AS (
      SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    firsts AS (
      SELECT g, min(source) AS first_source FROM tri GROUP BY g
    ),
    ladder AS (
      SELECT first_source AS source,
             CAST(count(*) AS BIGINT) AS n_new_trigrams
      FROM firsts GROUP BY 1
    )
    SELECT source, n_new_trigrams,
      CAST(SUM(n_new_trigrams)
           OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS BIGINT) AS cum_distinct_trigrams
    FROM ladder ORDER BY source
    """,
)
def q244_source_novelty_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty ladder over sources: adding sources in
    (deterministic, alphabetical) order, how many NEW distinct word
    trigrams does each contribute — the data-mixing ROI curve behind
    'is the next crawl worth ingesting?', and the source-level
    aggregate of q226's per-doc novelty. The prefix-set semantics
    ('not seen in any earlier source') collapses to one expression:
    a trigram is new AT its alphabetically-minimal source — so the
    whole ladder is trigram-explode → min-per-trigram → count-per-
    source, two mergeable groupBys keyed by trigram, LINEAR in
    trigram volume with no anti-join ladder and no per-prefix passes
    (an n-sources × corpus rescan is the naive form this replaces).
    Trigrams are plain strings (oracle-transparent, q226 rule); the
    cumulative sum runs over the ≤|sources| ladder — the bounded-
    aggregate window class."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tri_arr = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = (
        docs.select("source", F.explode_outer(tri_arr).alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    ladder = (
        tri.groupBy("g")
        .agg(F.min("source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new_trigrams"))
    )
    w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    return ladder.select(
        "source",
        "n_new_trigrams",
        F.sum("n_new_trigrams").over(w).cast("bigint").alias(
            "cum_distinct_trigrams"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q248 — sketch-tier cross-source overlap (HLL inclusion-exclusion)
# ---------------------------------------------------------------------------


@query("q248_source_overlap_sketch")  # probabilistic estimate: rows-only
def q248_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated distinct-trigram overlap between every source pair
    via per-source HyperLogLog sketches and inclusion-exclusion
    (operators/sketch.hll_pairwise_overlap) — the sketch-tier SCALE
    path of the exact cross-source comparisons (q227's weighted
    Jaccard, q169's dup matrix, q244's novelty ladder): those join or
    aggregate the full corpus per comparison; this makes ONE linear
    pass to |sources| dense register arrays (≤ |sources|·2¹² ints)
    and every pairwise estimate is pure column arithmetic over merged
    sketches — at 10⁵ sources on 100 TB, sketches are the only form
    of this matrix that exists at all. oracle=None: HLL estimates are
    hash-dependent (xxhash64 has no DuckDB counterpart); the covering
    test pins every one of the 190 pair estimates inside the 3σ
    inclusion-exclusion envelope against EXACT overlaps computed by
    Spark itself at test scale (measured worst case: 0.55 of bound),
    plus the q36/q225-style per-set RSE checks."""
    from sales_data_pipeline_spark.operators.sketch import (
        hll_pairwise_overlap,
    )

    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tri_arr = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = (
        docs.select("source", F.explode_outer(tri_arr).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return (
        hll_pairwise_overlap(tri, "source", "g", p=12)
        .select(
            "source_a",
            "source_b",
            F.round("est_a", 1).alias("est_a"),
            F.round("est_b", 1).alias("est_b"),
            F.round("est_overlap", 1).alias("est_overlap"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q252 — overlap-sketch envelope (exact small-domain oracle sibling of q248)
# ---------------------------------------------------------------------------


@query(
    "q252_overlap_sketch_envelope",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    tri AS (
      SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS exact_overlap,
           TRUE AS within_envelope
    FROM tri a JOIN tri b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q252_overlap_sketch_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the pairwise overlap
    sketch: per source pair with a POSITIVE exact distinct-trigram
    overlap, the EXACT overlap (oracled — DuckDB computes the same
    trigram sets and intersection) plus a boolean asserting q248's HLL
    inclusion-exclusion estimate lands inside the published 3σ budget
    3·RSE·(est_a+est_b) — the envelope tests/test_scale.py::
    test_hll_pairwise_overlap_within_inclusion_exclusion_envelope pins
    (measured worst case 0.55 of bound), emitted as oracle-comparable
    ROWS so the external gate checks the estimator, not just the suite
    (oracle asserts within_envelope = TRUE). Deterministic seeded hash:
    a pass at a given SF is permanent. Tier note: the EXACT side is a
    trigram-keyed self-join — the oracle tier; q248 is the 100 TB path
    (one linear sketch pass, no corpus join). Both consume the SAME
    persisted trigram frame (one corpus scan feeding the exact join and
    the sketch build). The exact tier carries a third-decade budget
    guard (see :func:`overlap_sketch_envelope`): SCALING10 measured
    this as the repo's steepest decade-2 curve (7.62×), so the audit
    tier fails loudly naming q248 instead of grinding past its remit."""
    return overlap_sketch_envelope(table(spark, sf_dir, "documents"))


# Budget for q252's EXACT trigram self-join, in raw join pairs
# (Σ_g C(sources_with_g, 2) over the distinct (source, trigram) index —
# computed the same lazy-broadcast-scalar way as q22's max_candidates).
# Calibration (measured, DuckDB recount over the scaling corpora):
# 7.54×10⁶ raw pairs at sf1, 7.54×10⁷ at sf10 — exactly 10×/decade at
# constant source count, so 2×10⁹ is ~1.5 decades past sf100. The
# audit tier's remit ends there: a corpus that trips this must use
# q248 (the linear-sketch production path, no corpus self-join) or
# raise the budget explicitly for an informed audit run.
Q252_MAX_EXACT_PAIRS = 2_000_000_000.0


def overlap_sketch_envelope(
    docs: DataFrame, max_exact_pairs: float | None = Q252_MAX_EXACT_PAIRS
) -> DataFrame:
    """q252's body, parameterized for the guard tests. ``max_exact_pairs``
    gates the exact trigram self-join with the q22 lazy-scalar pattern:
    the distinct (source, trigram) index is aggregated to Σ C(c, 2) —
    the exact raw pair count the join below would emit — broadcast as a
    scalar INSIDE the join predicate, so plan construction runs no job
    and an over-budget corpus dies in the join's first task with an
    error naming q248 (the sketch tier that replaces this audit at
    scale). None skips the guard (an informed caller on a vetted
    corpus)."""
    from sales_data_pipeline_spark.operators.dedup import _persist
    from sales_data_pipeline_spark.operators.sketch import hll_pairwise_overlap
    toks = F.split("text", " ")
    tri_arr = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = _persist(
        docs.select("source", F.explode_outer(tri_arr).alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    a = tri.alias("a")
    guard = F.lit(True)
    if max_exact_pairs is not None:
        est = (
            tri.groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.coalesce(
                    F.sum(F.col("c").cast("double") * (F.col("c") - 1) / 2.0),
                    F.lit(0.0),
                ).alias("__est_pairs")
            )
        )
        a = a.crossJoin(F.broadcast(est))
        guard = F.when(
            F.col("__est_pairs") <= F.lit(float(max_exact_pairs)), F.lit(True)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "q252 exact trigram tier: trigram index implies ~"
                    ),
                    F.col("__est_pairs").cast("bigint").cast("string"),
                    F.lit(
                        " raw join pairs (> max_exact_pairs="
                        f"{int(max_exact_pairs)}); this audit tier is "
                        "quadratic in per-trigram source counts — use "
                        "q248_source_overlap_sketch (the linear-sketch "
                        "path at scale), raise max_exact_pairs, or pass "
                        "None to override"
                    ),
                )
            )
        )
    exact = (
        a.join(
            tri.select(
                F.col("source").alias("source_b"), F.col("g").alias("g_b")
            ),
            (F.col("g") == F.col("g_b"))
            & (F.col("source") < F.col("source_b"))
            & guard,
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    est = hll_pairwise_overlap(tri, "source", "g", p=12)
    rse = 1.04 / (1 << 12) ** 0.5
    return (
        exact.join(est, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "exact_overlap",
            (
                F.abs(F.col("est_overlap") - F.col("exact_overlap"))
                <= F.lit(3 * rse) * (F.col("est_a") + F.col("est_b"))
            ).alias("within_envelope"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q250 — edit-distance near-dup (character-level member of the dedup family)
# ---------------------------------------------------------------------------


@query(
    "q250_name_edit_neardup",
    headline=True,  # r10 bench-set refresh (VERDICT r9 task 4)
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY edit_distance, name_a, name_b
    """,
)
def q250_name_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level near-duplicate pairs over the part-name catalog
    (edit distance ≤ 2) — the typo/variant-spelling member of the
    near-dup family (q22 token Jaccard, q23 MinHash, q24 SimHash, q52
    embeddings, q200 images): entity catalogs dedupe on edit distance
    where token methods are blind ('cold anvil' vs 'old anvil' share
    no error model with shingles). Exactly oracle-able because
    Levenshtein is the same integer DP in every engine — no floats
    anywhere. Scale shape: the oracle compares all pairs; the engine
    NEVER does — candidates come from PassJoin segment blocking
    (operators/dedup.edit_neardup_pairs: one equi-join on
    (segment_index, segment_text, length), constant probes per name,
    zero recall loss by the k+1-segment pigeonhole), with the exact DP
    as the verify filter. HISTORY: until round 7 this query blocked on
    the length key alone — candidates are then O(Σ length-bucket²),
    which the sf1→sf10 scaling measurement caught going 69× for 10×
    data (SCALING.md second-decade note); the PassJoin rewrite
    re-measured at ~linear with identical output. The distinct-name
    projection collapses the fact table first — the pair stage runs on
    the CATALOG, not the corpus."""
    from sales_data_pipeline_spark.operators.dedup import edit_neardup_pairs

    part = table(spark, sf_dir, "part")
    return edit_neardup_pairs(part, "p_name", k=2)  # unordered pairs


# ---------------------------------------------------------------------------
# q258 — passage-level dedup REWRITE (Dolma/CCNet-style paragraph dedup)
# ---------------------------------------------------------------------------


@query(
    "q258_passage_dedup_rewrite",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS idx,
             array_to_string(t[(i*8+1):(i*8+8)], ' ') AS chunk
      FROM toks,
           unnest(range(0, CAST((len(t) + 7) // 8 AS BIGINT))) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, idx, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, idx) AS rn
      FROM chunks
    ),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1),
    re AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY idx) AS new_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(re.new_text, '') AS new_text
    FROM tot t LEFT JOIN re ON t.doc_id = re.doc_id
    """,
)
def q258_passage_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup as a REWRITE, not just a census: split every
    document into non-overlapping 8-token passages, keep only each
    passage's GLOBAL first occurrence (min (doc_id, position) — the
    deterministic keeper rule), and reassemble each document from its
    surviving passages in original order. This is the
    CCNet/Dolma-style paragraph dedup that removes boilerplate
    repeated ACROSS documents while q21/q22 operate on whole docs —
    the corpus keeps one copy of every repeated span and every doc
    keeps its unique content. q240 is this operator's census face
    (which passages are shared); this emits the deduplicated corpus
    itself (doc_id, passage counts, rewritten text — '' when a doc was
    entirely boilerplate).

    Scale shape: one passage-keyed shuffle (window partitioned BY
    passage — each partition is one passage's tiny occurrence list, no
    global sort) and one doc-keyed shuffle to reassemble; both linear
    with map-side-combinable sizes. Reassembly is order-pinned on both
    engines (array_sort on (idx, chunk) structs here, string_agg ...
    ORDER BY idx in the oracle) so the rewritten text is byte-stable.
    Operator form: operators/quality.passage_dedup_rewrite (planted-
    duplicate and chunk-conservation invariants pinned in
    tests/test_r6_operators.py)."""
    from sales_data_pipeline_spark.operators.quality import (
        passage_dedup_rewrite,
    )

    docs = table(spark, sf_dir, "documents")
    return passage_dedup_rewrite(docs, "doc_id", "text", chunk_tokens=8)


# ---------------------------------------------------------------------------
# q259 — MinHash estimator envelope (exact oracle sibling for q23's Ĵ)
# ---------------------------------------------------------------------------


@query(
    "q259_minhash_estimate_envelope",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
           TRUE AS within_envelope
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
    """,
)
def q259_minhash_estimate_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the MinHash estimator
    behind q23: for every TRUE near-dup pair (exact 3-gram Jaccard ≥
    0.6 — the oracled ground truth, same SQL as q22), the exact
    Jaccard plus a boolean asserting the 64-permutation MinHash
    estimate Ĵ = (#matching components)/64 lands within the published
    envelope |Ĵ − J| ≤ 0.3 (std of Ĵ is √(J(1−J)/64) ≤ 0.0625, so the
    bound is ~5σ — generous for a deterministic single draw, still an
    order-of-magnitude tripwire for any signature bug: the r3
    permutation-seed collapse this suite caught would push Ĵ to 0/1
    on shifted sets and fail every row). Completes the sketch-honesty
    family (q251 HLL, q252 overlap, now Ĵ): every probabilistic
    estimator in the engine has an exact oracled sibling the external
    gate can check. Scale shape: signatures are map-only (zero
    shuffles, q23's own path); the pair list is the exact tier's."""
    from sales_data_pipeline_spark.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.6).select(
        "doc_a", "doc_b", "jaccard"
    )
    sigs = minhash_signatures(docs, "doc_id", "text", n=3, num_perm=64)
    sa = sigs.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(64)],
    )
    sb = sigs.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(64)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(64)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (
                F.abs(matches.cast("double") / 64 - F.col("jaccard")) <= 0.3
            ).alias("within_envelope"),
        )
    )


# ---------------------------------------------------------------------------
# q274/q275 — soundness audits for the probabilistic dedup tiers
# ---------------------------------------------------------------------------


@query(
    "q274_bloom_soundness_audit",
    oracle="""
    WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
    hist AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 0)
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_batch,
           CAST((SELECT COUNT(*) FROM d JOIN hist USING (fp)) AS BIGINT)
             AS n_exact_seen,
           TRUE AS all_seen_flagged,
           TRUE AS fp_bound_ok
    """,
)
def q274_bloom_soundness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable theorem for q219's bloom gate: a Bloom filter
    has NO FALSE NEGATIVES (every history fingerprint probes exactly
    the bits it set), so every batch doc whose fingerprint exists in
    history MUST be flagged maybe_seen. The oracle computes the exact
    seen-set size with its own md5 (SQL-checkable because both engines
    implement standard MD5) and pins all_seen_flagged TRUE; a hashing
    or bit-packing defect in bloom_build/bloom_gate flips it.
    fp_bound_ok pins the false-positive side at a 500× safety margin:
    at m=2^20/k=5 and these key counts the expected FP count is < 1e-8
    per probe, so flagged − exact_seen ≤ max(16, 2% of new docs) is
    deterministic headroom (seeded hashes, no RNG). Scale: the bitmap
    is ≤ 16K longs broadcast once; both sides of the audit are one
    scan + one broadcast-key join."""
    from sales_data_pipeline_spark.operators.sketch import bloom_build, bloom_gate

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    history = docs.filter(F.col("doc_id") % 10 != 0)
    bitmap = bloom_build(history, "fp")
    gated = docs.join(bloom_gate(bitmap, docs, "fp"), "fp")
    hist_fps = history.select("fp").distinct()
    labeled = gated.join(
        F.broadcast(hist_fps.withColumn("__seen", F.lit(True))), "fp", "left"
    ).select(
        "doc_id",
        "maybe_seen",
        F.coalesce(F.col("__seen"), F.lit(False)).alias("exact_seen"),
    )
    return labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(F.col("exact_seen").cast("long")).cast("bigint").alias("n_exact_seen"),
        F.bool_and(~F.col("exact_seen") | F.col("maybe_seen")).alias(
            "all_seen_flagged"
        ),
        (
            (
                F.sum(F.col("maybe_seen").cast("long"))
                - F.sum(F.col("exact_seen").cast("long"))
            )
            <= F.greatest(
                F.lit(16),
                F.ceil(
                    0.02 * F.sum((~F.col("exact_seen")).cast("long"))
                ),
            )
        ).alias("fp_bound_ok"),
    )


@query(
    "q275_simhash_exactdup_recall",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS fp, COUNT(*) AS n FROM documents GROUP BY 1
    )
    SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT)
             AS n_exact_dup_pairs,
           TRUE AS all_exact_pairs_found
    FROM g WHERE n > 1
    """,
)
def q275_simhash_exactdup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable theorem for q24's SimHash blocking: identical
    texts have identical 64-bit signatures (hamming 0 ≤ any threshold)
    and agree on every pigeonhole block, so EVERY exact-duplicate pair
    must appear in the near-pair output — recall of exact dups is 1.0
    by construction, not probabilistically. The oracle counts exact
    dup pairs via its own md5 grouping (Σ C(n,2)) and pins the recall
    boolean TRUE; a signature, blocking, or pair-dedup defect flips
    it. Scale: exact pairs come from a fingerprint-keyed self-join
    (group sizes = dup multiplicity, bounded), checked against the
    blocked candidate set with one anti-join. Density note (probed,
    not assumed): raw-byte-identical texts exist only at sf0.1+ in
    this testdata (8 pairs there, 0 at sf0.01 — q21's dups are
    NORMALIZED-equal, which SimHash does not guarantee), so the
    boolean bites in the sf0.1 parity sweep; the planted-duplicate
    pytest covers it at every run."""
    from sales_data_pipeline_spark.operators.dedup import simhash_near_pairs

    docs = table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", F.md5("text").alias("fp"))
    a = fps.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = fps.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    exact_pairs = a.join(b, "fp").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b"
    )
    found = simhash_near_pairs(docs, max_hamming=3).select("doc_a", "doc_b")
    missing = exact_pairs.join(found, ["doc_a", "doc_b"], "left_anti")
    return exact_pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_dup_pairs")
    ).crossJoin(
        missing.agg((F.count(F.lit(1)) == 0).alias("all_exact_pairs_found"))
    )
