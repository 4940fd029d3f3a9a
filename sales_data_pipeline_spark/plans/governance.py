"""Data-governance & training-set-assembly catalog: PII redaction,
snapshot CDC diff, embedding-quantization dedup, shard shuffling, and
domain-mixture weights.

The driver's synthetic corpus contains no real PII, so q72 injects
deterministic PII substrings derived from driver columns (doc_id,
source) IDENTICALLY on the Spark and oracle sides — the operator under
test is the detection/redaction, not the injection. Same idea for q73:
the two "snapshots" are deterministic edits of the orders table so the
diff has known adds/removes/changes to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.assemble import (
    mixture_epochs,
    mixture_weights,
    shard_assignment,
    unimax_allocation,
)
from sales_data_pipeline_spark.operators.merge import snapshot_diff
from sales_data_pipeline_spark.operators.redact import redact_pii
from sales_data_pipeline_spark.operators.similarity import quantized_dupe_groups
from sales_data_pipeline_spark.operators.text import token_count
from sales_data_pipeline_spark.plans.registry import query

# --- q72: PII redaction ---------------------------------------------------

_PII_INJECT_SQL = """
      text
      || CASE WHEN doc_id % 3 = 0
           THEN ' contact user' || doc_id || '@' || source || '.example.com'
           ELSE '' END
      || CASE WHEN doc_id % 5 = 0
           THEN ' call 555-' || printf('%03d', doc_id % 1000)
                || '-' || printf('%04d', doc_id % 10000)
           ELSE '' END
      || CASE WHEN doc_id % 7 = 0
           THEN ' from 10.' || (doc_id % 256) || '.'
                || ((doc_id // 256) % 256) || '.' || (doc_id % 100)
           ELSE '' END
      || CASE WHEN doc_id % 11 = 0
           THEN ' ssn 123-45-' || printf('%04d', doc_id % 10000)
           ELSE '' END
"""

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"


def _pii_injected(docs: DataFrame) -> DataFrame:
    """documents.text with deterministic PII appended for a known
    subset of docs (mirrors _PII_INJECT_SQL exactly)."""
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@"),
                F.col("source"),
                F.lit(".example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.format_string(
                " call 555-%03d-%04d",
                (did % 1000).cast("int"),
                (did % 10000).cast("int"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.format_string(
                " from 10.%d.%d.%d",
                (did % 256).cast("int"),
                (F.floor(did / 256) % 256).cast("int"),
                (did % 100).cast("int"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.format_string(" ssn 123-45-%04d", (did % 10000).cast("int")),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", injected.alias("text"))


@query(
    "q72_pii_redaction",
    oracle=f"""
    WITH inj AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(text, '{_IP_RE}')) AS BIGINT) AS n_ip,
      CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(text, '{_SSN_RE}')) AS BIGINT) AS n_ssn,
      CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
         + len(regexp_extract_all(text, '{_IP_RE}'))
         + len(regexp_extract_all(text, '{_PHONE_RE}'))
         + len(regexp_extract_all(text, '{_SSN_RE}')) AS BIGINT) AS n_pii,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        '{_EMAIL_RE}', '<EMAIL>', 'g'),
        '{_IP_RE}', '<IP>', 'g'),
        '{_PHONE_RE}', '<PHONE>', 'g'),
        '{_SSN_RE}', '<SSN>', 'g') AS clean_text
    FROM inj
    """,
)
def q72_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction census over the corpus: per-doc match
    counts for email / IPv4 / phone / SSN patterns and the fully
    redacted text. The corpus is synthetic, so known PII is injected
    deterministically from (doc_id, source) on BOTH engine sides; the
    operator under test (operators/redact.py) is regexp_count +
    chained regexp_replace — codegen-only, map-only, patterns held to
    the Java-regex ∩ RE2 dialect so the oracle is bit-comparable."""
    docs = table(spark, sf_dir, "documents")
    return redact_pii(_pii_injected(docs))


# --- q73: snapshot diff / CDC ----------------------------------------------


@query(
    "q73_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 3
    ),
    new AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 9 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
             ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 7
    ),
    j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        CASE WHEN o.o_orderkey IS NULL THEN 'added'
             WHEN n.o_orderkey IS NULL THEN 'removed'
             WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
               OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
             ELSE 'unchanged' END AS status,
        concat_ws(',',
          CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
               THEN 'o_orderstatus' END,
          CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                AND o.o_totalprice IS DISTINCT FROM n.o_totalprice
               THEN 'o_totalprice' END) AS changed_cols,
        o.o_orderstatus AS o_orderstatus_old,
        o.o_totalprice AS o_totalprice_old,
        n.o_orderstatus AS o_orderstatus_new,
        n.o_totalprice AS o_totalprice_new
      FROM old o FULL JOIN new n USING (o_orderkey)
    )
    SELECT * FROM j WHERE status <> 'unchanged'
    """,
)
def q73_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two snapshots of the orders table (snapshots
    are deterministic edits of the driver table: keys ending in 3 are
    new, keys ending in 7 were deleted, every 5th price bumped, every
    9th status flipped): full-outer keyed join classifying every key as
    added/removed/changed with the exact changed-column list and
    old/new payloads (operators/merge.py snapshot_diff)."""
    orders = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.filter(k % 10 != 3).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(k % 10 != 7).select(
        "o_orderkey",
        F.when(k % 9 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )


# --- q74: embedding quantization dedup --------------------------------------


@query(
    "q74_embedding_quant_dedup",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding::DOUBLE[], x -> x + 0.001)
      FROM embeddings WHERE vec_id % 4 = 0
    ),
    q AS (
      SELECT vec_id,
        array_to_string(
          list_transform(v, x -> CAST(floor(x * 2.0) AS BIGINT)), ',') AS sig
      FROM base
    ),
    g AS (
      SELECT vec_id,
        min(vec_id) OVER (PARTITION BY sig) AS canonical_id,
        CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS group_size
      FROM q
    )
    SELECT vec_id, canonical_id, group_size FROM g WHERE group_size >= 2
    """,
)
def q74_embedding_quant_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup groups by grid quantization: floor each
    dimension into a half-unit cell and group identical quantized
    vectors — linear map + one hash shuffle, no pairwise compare
    (operators/similarity.py quantized_dupe_groups). This corpus has no
    natural high-cosine pairs (max ≈0.51), so known near-identical
    copies are injected deterministically from driver rows (every 4th
    vector, +0.001 per element) identically on both engine sides; a
    copy whose perturbation crosses a cell boundary in ANY dimension
    legitimately escapes its group — that boundary-splitting is the
    documented limitation SRP-LSH (q52) covers. Complements LSH:
    cell-interior dups cost one groupBy here."""
    emb = table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", as_double.alias("v"))
    dups = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.001).alias("v"),
    )
    return quantized_dupe_groups(base.unionByName(dups), vec_col="v", scale=2.0)


# --- q75: shard assignment ---------------------------------------------------


@query(
    "q75_shard_assignment",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT AS hk
      FROM documents
    )
    SELECT doc_id,
      CAST(hk % 8 AS INT) AS shard,
      CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS BIGINT)
        AS pos
    FROM h
    """,
)
def q75_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards: one 52-bit
    md5 key drives both shard choice and within-shard order, windows
    run per shard (never a global row_number), so at 100 TB the sort
    parallelizes across the shard count
    (operators/assemble.py shard_assignment)."""
    docs = table(spark, sf_dir, "documents")
    return shard_assignment(docs, n_shards=8).select("doc_id", "shard", "pos")


# --- q76: domain mixture weights ---------------------------------------------

_MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


@query(
    "q76_mixture_weights",
    oracle=f"""
    WITH agg AS (
      SELECT source AS domain,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_units
      FROM documents GROUP BY 1
    )
    SELECT domain, n_rows, n_units,
      -- zero-pool semantics mirror the operator (r11): NULL shares /
      -- weights where a division by zero would otherwise crash
      round(CASE WHEN sum(CAST(n_units AS DOUBLE)) OVER () > 0
                 THEN CAST(n_units AS DOUBLE)
                      / sum(CAST(n_units AS DOUBLE)) OVER () END, 6)
        AS unit_share,
      round(CASE domain WHEN 'src0' THEN {_MIX_TARGETS["src0"]}
                        WHEN 'src1' THEN {_MIX_TARGETS["src1"]}
                        WHEN 'src2' THEN {_MIX_TARGETS["src2"]}
                        WHEN 'src3' THEN {_MIX_TARGETS["src3"]}
                        ELSE 0.0 END, 6) AS target_share,
      -- guard on the window TOTAL before dividing (r12, ADVICE r11):
      -- the old share>0 guard divided first, and on an all-zero-units
      -- corpus 0.0/0.0 = NaN orders greater than 0 in DuckDB, so the
      -- guard passed and mix_weight went NaN while the operator
      -- returns NULL — latent only (shipped corpora have n_units >= 1)
      CASE WHEN sum(CAST(n_units AS DOUBLE)) OVER () > 0
                AND n_units > 0
           THEN round(CASE domain WHEN 'src0' THEN {_MIX_TARGETS["src0"]}
                                  WHEN 'src1' THEN {_MIX_TARGETS["src1"]}
                                  WHEN 'src2' THEN {_MIX_TARGETS["src2"]}
                                  WHEN 'src3' THEN {_MIX_TARGETS["src3"]}
                                  ELSE 0.0 END
                      / (CAST(n_units AS DOUBLE)
                         / sum(CAST(n_units AS DOUBLE)) OVER ()), 6)
      END AS mix_weight
    FROM agg
    """,
)
def q76_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting table (static DoReMi/Pile-style):
    per-source token counts vs a prescribed target mixture → the
    over/under-sampling factor a mixture sampler applies per domain.
    Sources absent from the target map (src4) weight to 0 — excluded
    from training. One map-side-combined groupBy collapses the corpus
    to |domains| rows before any global normalization
    (operators/assemble.py mixture_weights)."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select("source", token_count("text").alias("n_tokens"))
    return mixture_weights(
        sized, domain_col="source", size_col="n_tokens", target_shares=_MIX_TARGETS
    )


# --- q293: data-constrained mixture epochs audit ------------------------------

_TOKEN_BUDGET = 200_000.0  # total training tokens the mixture plan spends
_EPOCH_CAP = 4.0  # Muennighoff et al. 2023: value of repeats decays past ~4


@query(
    "q293_mixture_epochs",
    oracle=f"""
    WITH agg AS (
      SELECT source AS domain,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    tgt(domain, share) AS (VALUES
      ('src0', {_MIX_TARGETS["src0"]}), ('src1', {_MIX_TARGETS["src1"]}),
      ('src2', {_MIX_TARGETS["src2"]}), ('src3', {_MIX_TARGETS["src3"]})
    ),
    -- FULL JOIN (r11): a target domain absent from the corpus still
    -- audits (available 0, epochs NULL, flagged) — the operator's
    -- missing-domain union, mirrored so the contract is pinned
    t AS (
      SELECT COALESCE(a.domain, g.domain) AS domain,
        COALESCE(a.available_tokens, 0) AS available_tokens,
        CAST(COALESCE(g.share, 0.0) AS DOUBLE) AS tgt
      FROM agg a FULL JOIN tgt g ON a.domain = g.domain
    )
    SELECT domain, available_tokens,
      round(tgt, 6) AS target_share,
      round(tgt * {_TOKEN_BUDGET}, 6) AS target_tokens,
      CASE WHEN available_tokens > 0
           THEN round(tgt * {_TOKEN_BUDGET} / CAST(available_tokens AS DOUBLE), 6)
      END AS epochs,
      (tgt * {_TOKEN_BUDGET}) > ({_EPOCH_CAP} * CAST(available_tokens AS DOUBLE))
        AS over_cap,
      round(greatest(tgt * {_TOKEN_BUDGET}
                     - {_EPOCH_CAP} * CAST(available_tokens AS DOUBLE), 0.0), 6)
        AS shortfall_tokens
    FROM t
    """,
)
def q293_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture audit (Muennighoff et al. 2023): given
    q76's target mixture and a 200k-token training budget, the implied
    per-domain EPOCH count, the >4-epoch repetition flags, and the
    token shortfall that must be re-sourced for flagged domains.
    Domains outside the target mixture audit at share 0. Same scale
    shape as q76: one map-side-combined groupBy to |domains| rows,
    all epoch math on the aggregate
    (operators/assemble.py mixture_epochs)."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select("source", token_count("text").alias("n_tokens"))
    return mixture_epochs(
        sized,
        domain_col="source",
        size_col="n_tokens",
        target_shares=_MIX_TARGETS,
        token_budget=_TOKEN_BUDGET,
        max_epochs=_EPOCH_CAP,
    )


# --- q296: UniMax waterfilling budget allocation ------------------------------


@query(
    "q296_unimax_allocation",
    oracle=f"""
    WITH agg AS (
      SELECT source AS domain,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    w AS (
      SELECT domain, available_tokens,
        {_EPOCH_CAP} * CAST(available_tokens AS DOUBLE) AS cap,
        row_number() OVER
          (ORDER BY {_EPOCH_CAP} * CAST(available_tokens AS DOUBLE), domain)
          AS i,
        count(*) OVER () AS nd,
        COALESCE(sum({_EPOCH_CAP} * CAST(available_tokens AS DOUBLE)) OVER
          (ORDER BY {_EPOCH_CAP} * CAST(available_tokens AS DOUBLE), domain
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
          AS prefix
      FROM agg
    ),
    f AS (
      SELECT domain, available_tokens, cap, nd,
        (cap * CAST(nd - i + 1 AS DOUBLE) + prefix) < {_TOKEN_BUDGET}
          AS at_cap
      FROM w
    ),
    g AS (
      SELECT *,
        sum(CASE WHEN at_cap THEN 1 ELSE 0 END) OVER () AS k,
        sum(CASE WHEN at_cap THEN cap ELSE 0.0 END) OVER () AS capped_total
      FROM f
    )
    SELECT domain, available_tokens,
      round(cap, 6) AS capacity_tokens,
      round(CASE WHEN at_cap THEN cap
                 ELSE ({_TOKEN_BUDGET} - capped_total)
                      / greatest(CAST(nd - k AS DOUBLE), 1.0) END, 6)
        AS alloc_tokens,
      CASE WHEN available_tokens > 0
           THEN round((CASE WHEN at_cap THEN cap
                            ELSE ({_TOKEN_BUDGET} - capped_total)
                                 / greatest(CAST(nd - k AS DOUBLE), 1.0) END)
                      / CAST(available_tokens AS DOUBLE), 6)
      END AS epochs,
      at_cap
    FROM g
    """,
)
def q296_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax waterfilling allocation (Chung et al., ICLR 2023): given
    the 200k-token budget q293 audits and the same 4-epoch repetition
    knee, COMPUTE the fairest per-domain allocation — every domain gets
    an equal share of budget unless its 4-epoch capacity binds, in
    which case it is filled to capacity and the residue re-levels over
    the rest. The constructive complement of q293's audit: feeding this
    allocation back through mixture_epochs flags nothing by
    construction. Plan shape: one map-side-combined groupBy to
    |domains| rows, then the closed-form waterfilling prefix condition
    (capped set = ascending-capacity prefix) as one row_number + two
    window sums over that aggregate — the single-partition window is
    over dozens of rows at any corpus scale (q76's allowlisted shape);
    fixed double expression order and a total (capacity, domain) sort
    key make every value bitwise SQL-reproducible
    (operators/assemble.py unimax_allocation)."""
    docs = table(spark, sf_dir, "documents")
    sized = docs.select("source", token_count("text").alias("n_tokens"))
    return unimax_allocation(
        sized,
        domain_col="source",
        size_col="n_tokens",
        token_budget=_TOKEN_BUDGET,
        max_epochs=_EPOCH_CAP,
    )


# --- q77: table profiling ------------------------------------------------------

_PROFILE_BLOCK = """
      SELECT '{c}' AS col_name,
        count(*) AS n_rows,
        CAST(sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        CAST(count(DISTINCT {expr}) AS BIGINT) AS n_distinct,
        CAST(min({expr}) AS VARCHAR) AS min_val,
        CAST(max({expr}) AS VARCHAR) AS max_val
      FROM orders
"""

_PROFILE_COLS = {
    "o_orderkey": "o_orderkey",
    "o_custkey": "o_custkey",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(o_totalprice AS DECIMAL(12,2))",
    "o_orderdate": "date_trunc('second', o_orderdate)",
    "o_orderpriority": "o_orderpriority",
}


@query(
    "q77_table_profile",
    oracle=" UNION ALL ".join(
        _PROFILE_BLOCK.format(c=c, expr=e) for c, e in _PROFILE_COLS.items()
    ),
)
def q77_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the orders table: per column
    (n_rows, n_null, n_distinct, min, max) — the load-time drift check
    a lake pipeline runs on every batch (operators/profile.py). Exact
    cardinalities (single Expand pass, hash-matchable). Money is profiled as decimal and timestamps second-truncated so
    min/max strings are engine-portable (float/sub-second formatting
    is not)."""
    from sales_data_pipeline_spark.operators.profile import profile_table

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        F.date_trunc("second", F.col("o_orderdate")).alias("o_orderdate"),
        "o_orderpriority",
    )
    return profile_table(orders)


# --- q78: per-domain cap ---------------------------------------------------


@query(
    "q78_domain_cap",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT AS hk
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT)
          AS cap_rank
      FROM h
    )
    SELECT doc_id, source, cap_rank FROM r WHERE cap_rank <= 20
    """,
)
def q78_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: at most 20 docs per source, chosen by
    md5(doc_id) order — a deterministic uniform per-domain sample, not
    head-of-scan bias (operators/assemble.py domain_cap). The guard
    that stops one crawl domain from dominating the training mix."""
    from sales_data_pipeline_spark.operators.assemble import domain_cap

    docs = table(spark, sf_dir, "documents")
    return domain_cap(docs, cap=20).select("doc_id", "source", "cap_rank")


# --- q79: split-leakage audit -------------------------------------------------


@query(
    "q79_split_leakage",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, md5(trim(text)) AS fp,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) = 'e' THEN 'val'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) = 'f' THEN 'test'
             ELSE 'train' END AS split
      FROM documents
    ),
    train_fp AS (SELECT DISTINCT fp FROM tagged WHERE split = 'train'),
    ev AS (
      SELECT t.split, t.doc_id, (tf.fp IS NOT NULL) AS leaked
      FROM tagged t LEFT JOIN train_fp tf USING (fp)
      WHERE t.split <> 'train'
    )
    SELECT split,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN leaked THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
      round(sum(CASE WHEN leaked THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
        AS leak_rate
    FROM ev GROUP BY split
    """,
)
def q79_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: how many val/test documents share a content
    fingerprint (md5 of trimmed text, q20's contract) with ANY train
    document — the check that a random split did not leak duplicated
    content across the train/eval boundary. Composition of the q44 md5
    split and q20 fingerprints: the train side collapses to DISTINCT
    fingerprints before the join (broadcastable at benchmark scale is
    wrong here — train is the BIG split — but the join key is an
    md5, so the shuffle is uniform by construction); one keyed agg
    finishes it."""
    docs = table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    tagged = docs.select(
        "doc_id",
        F.md5(F.trim(F.col("text"))).alias("fp"),
        F.when(digit == "e", F.lit("val"))
        .when(digit == "f", F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    train_fp = (
        tagged.filter(F.col("split") == "train")
        .select("fp")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ev = tagged.filter(F.col("split") != "train").join(train_fp, "fp", "left")
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.col("__hit")), F.lit(0)).cast("bigint").alias("n_leaked"),
        F.round(
            F.coalesce(F.sum(F.col("__hit")), F.lit(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("leak_rate"),
    )


@query(
    "q99_expectations_report",
    oracle="""
    WITH base AS (SELECT * FROM orders),
    rep AS (
      SELECT 'not_null' AS expectation, 'o_custkey' AS "column",
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violations
      FROM base
      UNION ALL
      SELECT 'accepted_values', 'o_orderstatus',
        CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O','F','P')
                 THEN 1 ELSE 0 END) AS BIGINT)
      FROM base
      UNION ALL
      SELECT 'range', 'o_totalprice',
        CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 0 OR o_totalprice > 200000)
                 THEN 1 ELSE 0 END) AS BIGINT)
      FROM base
      UNION ALL
      SELECT 'row_count_min', '1000',
        CAST(CASE WHEN count(*) < 1000 THEN 1 ELSE 0 END AS BIGINT)
      FROM base
      UNION ALL
      SELECT 'unique', 'o_orderkey',
        CAST(COALESCE((SELECT sum(c) FROM (
          SELECT count(*) AS c FROM base WHERE o_orderkey IS NOT NULL
          GROUP BY o_orderkey HAVING count(*) > 1
        )), 0) AS BIGINT)
    )
    SELECT expectation, "column", n_violations,
      CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM rep
    """,
)
def q99_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/profile.py
    check_expectations): five contract rules over orders evaluated in
    one scan (all per-row rules fold into a single agg; uniqueness adds
    its one keyed pass). The range rule is deliberately tight enough to
    FAIL on this data — the report must demonstrate violation counting,
    not just green checkmarks. This generalizes the reference's
    file-level header gate (main.py quarantine branch) to row-level
    enforced contracts."""
    from sales_data_pipeline_spark.operators.profile import check_expectations

    orders = table(spark, sf_dir, "orders")
    return check_expectations(
        orders,
        [
            ("not_null", "o_custkey"),
            ("accepted_values", "o_orderstatus", ("O", "F", "P")),
            ("range", "o_totalprice", 0, 200000),
            ("row_count_min", 1000),
            ("unique", "o_orderkey"),
        ],
    )


@query(
    "q110_k_anonymity",
    oracle="""
    WITH combos AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS group_size
      FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, group_size,
      CAST(CASE WHEN group_size < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k
    FROM combos
    """,
)
def q110_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (public privacy notion,
    Sweeney 2002): every (mktsegment, nationkey) combination with its
    group size and a below-k flag (k=5) — combinations identifying
    fewer than k individuals are re-identification risks that a release
    pipeline must generalize or suppress (the privacy sibling of q72's
    PII redaction: q72 scrubs direct identifiers, this measures
    indirect ones). One keyed aggregation; the flag is free."""
    cust = table(spark, sf_dir, "customer")
    combos = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    )
    return combos.withColumn(
        "below_k",
        F.when(F.col("group_size") < 5, 1).otherwise(0).cast("bigint"),
    )


@query(
    "q130_forget_report",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    o AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_subjects_with_orders
      FROM orders JOIN del ON o_custkey = c_custkey
    ),
    l AS (
      SELECT CAST(count(*) AS BIGINT) AS n_lineitems
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN del ON o_custkey = c_custkey
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM del) AS n_subjects,
      o.n_subjects_with_orders,
      o.n_orders,
      l.n_lineitems,
      (SELECT CAST(count(*) AS BIGINT) FROM customer) - (SELECT count(*) FROM del)
        AS n_customers_after
    FROM o, l
    """,
)
def q130_forget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact report: for a deletion set of data
    subjects (custkey % 97 — stands in for an erasure-request batch),
    every row the cascade must touch — their orders, the order lines
    reachable through the key chain, and the post-delete customer
    count. A compliance pipeline runs THIS before the destructive
    anti-join delete (the delete itself is the same joins with
    left_anti + dynamic partition overwrite, q73/q63's write
    machinery). The deletion set is tiny → both probe joins broadcast
    it; lineitem is reached only through the orders join, never
    scanned against customers directly."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    dele = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o = orders.join(
        F.broadcast(dele), orders.o_custkey == dele.c_custkey
    )
    o_stats = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count_distinct("o_custkey").cast("bigint").alias(
            "n_subjects_with_orders"
        ),
    )
    l_stats = li.join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitems"))
    n_del = dele.count()
    n_cust = cust.count()
    return (
        o_stats.crossJoin(l_stats)
        .select(
            F.lit(n_del).cast("bigint").alias("n_subjects"),
            "n_subjects_with_orders",
            "n_orders",
            "n_lineitems",
            F.lit(n_cust - n_del).cast("bigint").alias("n_customers_after"),
        )
    )


@query(
    "q213_masked_export",
    oracle="""
    SELECT c_custkey,
      md5(c_name) AS c_name,
      CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
        AS c_acctbal,
      c_mktsegment
    FROM customer
    """,
)
def q213_masked_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-masked customer export (operators/redact.py
    mask_columns): the disclosure table a partner/analytics export
    actually ships — stable pseudonymous name tokens (md5: same
    customer ⇒ same token across exports, joinable but not
    reversible), balance GENERALIZED to 1000-unit bands (the
    k-anonymity coarsening q110 audits), segment kept, nationality
    dropped. Every column carries an explicit verb — an unlisted
    column raises, because a disclosure decision nobody made is the
    governance bug. Map-only plan: the masked export costs exactly
    the scan."""
    from sales_data_pipeline_spark.operators.redact import mask_columns

    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"),
        "c_mktsegment",
        "c_nationkey",
    )
    return mask_columns(
        c,
        {
            "c_custkey": "keep",
            "c_name": "hash",
            "c_acctbal": ("bucket", 1000),
            "c_mktsegment": "keep",
            "c_nationkey": "drop",
        },
    )
