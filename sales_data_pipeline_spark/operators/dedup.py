"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- ``exact_dedup``: one hash-aggregate on a fingerprint — the cheapest
  pass, always run first. Shuffles only (key, doc_id) pairs, never text.
- ``ngram_jaccard_pairs``: EXACT all-pairs similarity via a shingle
  inverted index (explode → self-join on shingle → count). Quadratic in
  the worst case — correct at test scale and the verification oracle
  for the approximate paths. ``max_shingle_freq`` drops ubiquitous
  shingles (stopword runs) which otherwise create skewed join keys and
  O(f²) candidate blowup — the standard inverted-index prefix filter.
- ``minhash_lsh_pairs``: the 100 TB path. k permutations × b bands:
  shuffle cost is O(docs × bands), independent of pair count; only
  LSH-colliding candidates are verified with exact Jaccard. Recall for
  jaccard ≥ t is 1-(1-t^r)^b (k=64, b=16, r=4: ≥0.9998 at t=0.8).
- ``simhash64``: constant-size signature per doc; near-dups share one of
  four 16-bit blocks (pigeonhole for hamming ≤ 3), so candidate
  generation is a block-key equi-join, again linear-ish.

All pure DataFrame ops — hashing via xxhash64 (JVM), no Python UDFs.
"""

from __future__ import annotations

from pyspark import StorageLevel

# Persisted intermediates (shingle occurrence tables / ordered sets)
# registered here so long-lived sessions can release them without
# nuking unrelated caches with catalog.clearCache(). Ownership contract:
# caches live until release_caches() / session end / caller clearCache.
_CACHED: list = []


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every intermediate the dedup operators have cached in
    this session; returns how many were released. Callers that invoke
    the pair operators repeatedly (services, notebooks) call this
    between batches instead of the blunter spark.catalog.clearCache()."""
    n = len(_CACHED)
    for df in _CACHED:
        # blocking: callers (and tests) may count persistent RDDs right
        # after; the default async unpersist leaves a timing window
        df.unpersist(blocking=True)
    _CACHED.clear()
    return n
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators.text import (
    fingerprint,
    shingle_hashes_from_tokens,
    tokens,
)

# MinHash/LSH geometry of the pair, contamination and incremental paths:
# word 3-gram shingles, 64 permutations, 16 bands of 4 rows. An index
# minhash_index builds matches the signatures incremental_neardup_lsh
# computes because both read these.
_SHINGLE_N = 3
_NUM_PERM = 64
_BANDS = 16


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str, key_cols: list[str] | None = None, text_col: str | None = "text"
) -> DataFrame:
    """One representative (min id) per duplicate group + group size.

    Group key = explicit columns, else the text fingerprint. Only the
    key and id move through the shuffle."""
    if key_cols:
        proj, keys = df.select(*key_cols, id_col), list(key_cols)
    else:
        proj = df.select(fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        keys = ["fingerprint"]
    return proj.groupBy(*keys).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Dedup a NEW ingestion batch against an already-curated corpus —
    the continuous-crawl pattern: never re-scan 100 TB of history, keep
    only its fingerprint index (~16 bytes/doc). Two stages:

      1. within-batch exact dedup (min-id representative per content
         fingerprint — same contract as exact_dedup);
      2. anti join of the survivors' fingerprints against
         ``seen_fingerprints`` (one column ``fp_col``).

    Both shuffles are keyed by the 128-bit fingerprint and linear. At
    scale, write the history index bucketed by ``fp_col``
    (``DataFrameWriter.bucketBy``): the anti join then reads history
    exchange-free, so ingesting a batch shuffles ONLY the batch.
    Returns the surviving new rows (all original columns)."""
    batch = new_docs.withColumn("__fp", fingerprint(text_col))
    keep = batch.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    survivors = batch.join(keep, id_col, "left_semi")
    history = seen_fingerprints.select(F.col(fp_col).alias("__fp"))
    return survivors.join(history, "__fp", "left_anti").drop("__fp")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted index)
# ---------------------------------------------------------------------------


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, spread: bool = False
) -> DataFrame:
    """(doc, sh: array<bigint>) — tokens projected first (see
    shingle_hashes_from_tokens: inline token exprs re-evaluate the split
    per element, ~15x slower).

    ``spread=True`` routes the (doc, text) projection through
    scale.spread_scan before tokenizing: a single-row-group parquet
    input (or 1-partition persisted frame) otherwise pins the whole
    per-row compute chain — and every cached intermediate derived from
    it — to one core. Opt-in per caller, measured per consumer (r12):
    the minhash path (64 hash passes per doc on top of the shingles)
    gains ~1.7×; the PPJoin path's cost lives in its many small stages,
    where 32× the task count per cached scan LOSES more than the
    parallel map win — it stays unspread."""
    proj = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__x"))
    if spread:
        from sales_data_pipeline_spark.operators.scale import spread_scan

        proj = spread_scan(proj)
    return proj.select("doc", tokens("__x").alias("__t")).select(
        "doc", shingle_hashes_from_tokens("__t", n).alias("sh")
    )


def _shingle_index(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # explode_outer + post-filter, NOT explode: for plain explode,
    # InferFiltersFromGenerate synthesizes a size(sh)>0 predicate that
    # predicate-pushdown re-inlines below the token projection,
    # re-evaluating the whole shingle expression per row a second time
    # in its expensive per-element form (measured ~18× slower). The
    # outer variant infers nothing; null rows from empty shingle sets
    # are dropped by a cheap filter on the GENERATED column.
    return (
        _shingle_sets(df, id_col, text_col, n)
        .select("doc", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 10_000,
    persist: bool = True,
    max_candidates: int | None = 100_000_000,
) -> DataFrame:
    """All pairs with Jaccard(shingles_a, shingles_b) ≥ threshold — EXACT,
    via document-frequency-ordered prefix filtering (the canonical
    All-Pairs/PPJoin recipe).

    Sort each shingle set in ONE global total order — ascending
    (document_frequency, hash) — and index only each set's first
    |S| - ⌈t·|S|⌉ + 1 elements: two sets with J ≥ t MUST collide inside
    those prefixes. The df-ascending order is what gives the filter its
    power (the original "increasing df" ordering of Chaudhuri/Bayardo's
    All-Pairs): prefixes hold each document's RAREST shingles, so
    co-occurrence in a prefix means sharing a rare feature — measured
    here, candidates drop ~500× vs hash-ordered prefixes on the same
    corpus. A size predicate (t·|A| ≤ |B| ≤ |A|/t) and the PPJoin
    positional filter prune further inside the join; survivors are
    verified exactly with one array_intersect over the full sets. Zero
    recall loss at every step.

    Cost shape: computing df and re-ordering adds two linear shuffles
    of the (doc, shingle) occurrence table (a shingle-keyed window for
    df, then the groupBy doc rebuild — r13: the window replaced a
    groupBy+join-back that shuffled occ twice on the same key). That
    linear work is what collapses the otherwise-quadratic candidate
    join — at 100 TB the trade is not close.

    ``max_shingle_freq`` drops prefix entries whose shingle appears in
    more than that many docs — the skew guard that keeps one ubiquitous
    shingle (a boilerplate/stopword run) from generating O(f²) candidate
    pairs off a single join key. With df-ordering, ubiquitous shingles
    already sort to set SUFFIXES (rarely indexed at all), so the cap
    only fires on degenerate docs whose whole prefix is boilerplate.
    ON by default at 10k: a no-op below 10k docs (test-scale results
    stay exactly exact); the df values are already on every index row,
    so the guard is a free filter, no extra aggregation. Set None for
    strict exactness at quadratic-skew risk.

    ``persist`` caches the per-doc ORDERED shingle sets
    (MEMORY_AND_DISK — spills, never OOMs): the subtree feeds the
    prefix index AND both verify sides, and Spark re-executes common
    subplans per consumer (only exchanges are reused). At 100 TB the
    same role is played by checkpointing the sets to parquet once.
    CACHE OWNERSHIP: the cache lives until the session ends or the
    caller clears it — long-lived sessions invoking this repeatedly
    should call ``release_caches()`` between batches (targeted; bench.py
    uses the blunter clearCache) or pass persist=False.

    ``max_candidates`` is the auto-regime guard: this is the EXACT
    (oracle) tier, worst-case quadratic in candidate pairs, and a
    blind call on a web-scale corpus must fail fast, not melt the
    cluster. The prefix index is aggregated to Σ C(count_s, 2) over
    its shingles — the exact number of raw join pairs the candidate
    join would emit before size/positional pruning — as a broadcast
    scalar GATING the join predicate: the plan stays lazy (explain/
    construction run no job), under the threshold the extra agg rides
    the same job over the persisted sets at negligible cost, and over
    it the first candidate row evaluated raises
    USER_RAISED_EXCEPTION naming :func:`minhash_lsh_pairs` — the join
    dies in its first task. Pass None to skip the guard (an informed
    caller on a vetted corpus)."""
    # _shingle_index, not a bare explode: plain explode lets
    # InferFiltersFromGenerate push a size()>0 predicate below the token
    # projection, re-evaluating the shingle expression per row in its
    # slow per-element form (measured ~18×/40× — see _shingle_index)
    occ = _shingle_index(df, id_col, text_col, n)
    # dfreq via ONE shingle-keyed window over occ, not the old
    # groupBy(shingle) + join-back (r13): both formulations ship every
    # (doc, shingle) row through a shingle-keyed exchange, but the old
    # shape paid a SECOND pass of occ into the join plus the dfreq
    # aggregate's own exchange — and needed occ persisted to avoid
    # recomputing the tokenize+shingle chain per consumer. The window
    # computes the same count on the same exchange (bit-identical
    # dfreq: COUNT(*) OVER (PARTITION BY shingle) = the groupBy count),
    # occ drops to a single consumer (no persist, no materialization
    # barrier), and the whole q22 plan loses two stages. Measured
    # same-process A/B (warm medians, n=5): window 2.09-2.22 s vs
    # join 2.57-3.28 s. Skew note: a hot shingle lands on one reducer
    # either way (the join shipped occ keyed by shingle too); the
    # max_shingle_freq guard downstream is the real skew defence.
    from pyspark.sql import Window as _W

    occd = occ.withColumn(
        "dfreq", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
    )
    # ordered sets: array of (dfreq, shingle) structs, ascending — the
    # global total order all prefix/positional reasoning runs in
    sets = (
        occd.groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dfreq"), F.col("shingle")))
            ).alias("ord")
        )
    )
    if persist:
        sets = _persist(sets)
    n_sh = F.size("ord")
    prefix_len = n_sh - F.ceil(n_sh * F.lit(threshold)).cast("int") + F.lit(1)
    # n_sh travels INSIDE the exploded struct, not as its own projected
    # column: join conditions on n_a/n_b infer isnotnull constraints,
    # and a plain column alias would let them push below the projection,
    # re-inlining the whole expression into the scan filter in its
    # expensive per-element form (constraints cannot cross a Generate
    # output, so the struct keeps them above the explode).
    prefix_entries = F.transform(
        F.slice("ord", 1, F.greatest(prefix_len, F.lit(0))),
        lambda s: F.struct(
            s.getField("shingle").alias("shingle"),
            s.getField("dfreq").alias("dfreq"),
            n_sh.alias("n_sh"),
        ),
    )
    idx = (
        sets.select("doc", F.posexplode_outer(prefix_entries).alias("pos", "e"))
        .filter(F.col("e").isNotNull())
        .select(
            "doc",
            "pos",
            F.col("e.shingle").alias("shingle"),
            F.col("e.n_sh").alias("n_sh"),
            F.col("e.dfreq").alias("dfreq"),
        )
    )
    if max_shingle_freq is not None:
        idx = idx.filter(F.col("dfreq") <= max_shingle_freq)
    idx = idx.drop("dfreq")
    if persist:
        # idx feeds BOTH self-join sides and (when guarded) the
        # candidate-count scalar — three consumers, each of which
        # would otherwise re-run the slice+posexplode over sets
        # (measured r13: dropping this persist costs ~0.6 s at sf0.1)
        idx = _persist(idx)
    est = None
    if max_candidates is not None:
        # Σ C(c, 2) over per-shingle prefix-entry counts = the exact
        # raw pair count the candidate join below would emit. Kept
        # LAZY: the estimate is a broadcast scalar gating the join
        # predicate, so no extra driver-side job runs when the plan is
        # merely constructed/explained, the agg shares the persisted
        # sets scan inside the same job, and in the pathological case
        # the first candidate row evaluated raises — the join dies in
        # its first task instead of melting the cluster. Double sum:
        # exact bigint sums could themselves overflow in exactly the
        # blow-up being guarded.
        est = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.coalesce(
                    F.sum(F.col("c").cast("double") * (F.col("c") - 1) / 2.0),
                    F.lit(0.0),
                ).alias("__est_pairs")
            )
        )
    a = idx.select(
        F.col("doc").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("pos").alias("pos_a"),
        "shingle",
    )
    guard = F.lit(True)
    if est is not None:
        a = a.crossJoin(F.broadcast(est))
        guard = F.when(
            F.col("__est_pairs") <= F.lit(float(max_candidates)),
            F.lit(True),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ngram_jaccard_pairs: prefix index implies ~"),
                    F.col("__est_pairs").cast("bigint").cast("string"),
                    F.lit(
                        " raw candidate pairs (> max_candidates="
                        f"{max_candidates}); this exact tier is "
                        "quadratic in candidates — use "
                        "minhash_lsh_pairs (the at-scale near-dup "
                        "path), raise max_candidates, or pass "
                        "max_candidates=None to override"
                    ),
                )
            )
        )
    b = idx.select(
        F.col("doc").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("pos").alias("pos_b"),
        "shingle",
    )
    # PPJoin positional filter: J ≥ t needs overlap ≥ ⌈t/(1+t)·(|A|+|B|)⌉,
    # and a match at (sorted, 0-based) positions pos_a/pos_b caps the
    # overlap at min(|A|-pos_a, |B|-pos_b) — matches deep in both
    # prefixes cannot reach the required overlap and are pruned BEFORE
    # the pair ever exists. Exact necessity, zero recall loss; at sf0.1
    # it cuts candidates ~5× and at 100 TB it is the difference between
    # verifying the near-dup set and verifying every stray co-shingle.
    # (t/(1+t) in double rounds ≤ the exact value, so the bound only
    # ever loosens — the safe direction.)
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
    )
    candidates = (
        a.join(b, "shingle", "inner")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= F.col("n_a") * threshold)
            & (F.col("n_a") >= F.col("n_b") * threshold)
            & (
                F.least(
                    F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
                )
                >= min_overlap
            )
            & guard
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    shingle_arr = F.transform(F.col("ord"), lambda s: s.getField("shingle"))
    sa = sets.select(F.col("doc").alias("doc_a"), shingle_arr.alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), shingle_arr.alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = F.col("n_common") / (
        F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - F.col("n_common")
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", n_common.cast("bigint"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the at-scale near-dup path)
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_perm: int = 64
) -> DataFrame:
    """k-permutation MinHash signature per doc — ZERO shuffles.

    Permutation i = xxhash64(shingle, i) (seeding by an extra hashed
    column is the standard trick; xxhash64 is a JVM built-in). Each
    signature component is array_min(transform(shingles, hash_i)) — a
    narrow per-row expression fully inside whole-stage codegen, so
    signature computation is map-only and scales embarrassingly
    (an earlier explode+groupBy formulation shuffled every (doc,
    shingle) pair; at 100 TB that shuffle IS the job)."""
    return _signatures_from_sets(
        _shingle_sets(df, id_col, text_col, n, spread=True), num_perm
    )


def _signatures_from_sets(sets: DataFrame, num_perm: int) -> DataFrame:
    """Signatures from precomputed (doc, sh) sets — lets callers that
    also need the sets elsewhere (LSH verify) share one materialization.

    The whole forest is ONE ``selectExpr``: component i is the SQL text
    ``array_min(transform(sh, x -> xxhash64(x, i)))`` with the seed i
    written into the lambda body as a literal. Built through the Column
    API, every node of the forest was its own Py4J round trip, about
    half of q23's plan-build time. It also rules out the bug class of
    r3: a Column-API
    ``transform`` binds a two-parameter lambda as (element,
    array_index), so the old ``lambda s, i=i`` form silently seeded
    every permutation with the element's POSITION — all num_perm
    components collapsed to one hash function, degrading banded LSH to
    a single-band exact-match (caught by the bipartite
    fuzzy-contamination tests). A one-parameter SQL lambda over a
    literal seed has no second binding and no Python closure to get
    wrong. Same Catalyst expressions and INT literal as the Column
    form, so the signatures are bit-identical."""
    return sets.selectExpr(
        "doc",
        *[
            f"array_min(transform(sh, x -> xxhash64(x, {i}))) AS h{i}"
            for i in range(num_perm)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    persist: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded LSH, then EXACT Jaccard verification of
    candidates only. Output schema matches ngram_jaccard_pairs; the
    difference is recall (<1 with probability 1-(1-t^r)^b) and cost
    (linear-ish vs quadratic). Cache ownership follows
    ngram_jaccard_pairs' contract: the persisted shingle sets live until
    the caller calls ``release_caches()`` / clears them (or pass
    persist=False).

    ``max_bucket_size`` is the bucket-skew guard for adversarial
    corpora: a mega-cluster of near-identical documents puts its whole
    cluster into ONE (band, bucket) key, and the candidate self-join
    emits O(cluster²) pairs off that single key — the LSH analogue of
    the shingle-frequency skew ngram_jaccard_pairs caps. Buckets larger
    than the cap are dropped from candidate generation (one extra
    same-keyed window, no extra shuffle). The documented trade: pairs
    WITHIN an over-cap bucket may be missed in that band (other bands
    usually still catch them); run exact_dedup first so identical-doc
    storms never reach LSH — then real corpora essentially never
    trip the cap. None (default) = off, exact r1-compatible output."""
    rows = _NUM_PERM // _BANDS
    # one shingle pass feeds BOTH the signatures and the exact-verify
    # arrays below; persist so it materializes once
    sets = _shingle_sets(df, id_col, text_col, _SHINGLE_N, spread=True)
    if persist:
        sets = _persist(sets)
    sig = _signatures_from_sets(sets, _NUM_PERM)
    # one SQL expression, not a Column forest (see _signatures_from_sets)
    bands = (
        ", ".join(f"h{b * rows + r}" for r in range(rows)) + f", {b}"
        for b in range(_BANDS)
    )
    band_arr = F.expr("array(" + ", ".join(f"xxhash64({h})" for h in bands) + ")")
    buckets = sig.select(
        F.col("doc"), F.posexplode(band_arr).alias("band", "bucket")
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bw = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("__bsize", F.count(F.lit(1)).over(bw))
            .filter(F.col("__bsize") <= max_bucket_size)
            .drop("__bsize")
        )
    left = buckets.select(F.col("doc").alias("doc_a"), "band", "bucket")
    right = buckets.select(F.col("doc").alias("doc_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"], "inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Exact verification of candidates only, via per-doc shingle SETS
    # (array_intersect), not a second inverted-index self-join: cost is
    # O(|candidates| · shingles-per-doc), and the only shuffles are the
    # two joins that attach each side's shingle array. (The earlier
    # formulation re-joined the full index and semi-filtered AFTER —
    # paying the quadratic join LSH exists to avoid.)
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = F.col("n_common") / (
        F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - F.col("n_common")
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", n_common.cast("bigint"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: sign-sum of token-hash bits.

    Explode tokens → per-bit signed contributions (64 conditional sums in
    ONE aggregate — not 64 passes) → reassemble the sign vector into a
    bigint. Everything stays in one shuffle of (doc, token_hash)."""
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy("doc").agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR == +
    return agg.select("doc", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.

    Blocking: split the 64-bit signature into 4 × 16-bit blocks; any pair
    within hamming ≤ 3 must agree on ≥1 whole block (pigeonhole), so
    candidates come from 4 equi-joins on block values, not a cross join."""
    sig = simhash64(df, id_col, text_col)
    blocks = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("block_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk"),
    ).select("doc", "simhash", "blk.block_id", "blk.block_val")
    a = blocks.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a"), "block_id", "block_val"
    )
    b = blocks.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b"), "block_id", "block_val"
    )
    return (
        a.join(b, ["block_id", "block_val"], "inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) — substring-level duplication
# ---------------------------------------------------------------------------


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Split each document into content-defined chunks (rsync/FastCDC
    family, public technique): a chunk boundary falls AFTER every
    position i whose ``window``-byte context hashes into the cut class
    (here: first hex digit of its md5 == '0', expected chunk length
    16·window... i.e. 1/16 cut probability). Because boundaries depend
    only on LOCAL content, an insertion early in a document shifts every
    byte offset but re-synchronizes the chunk stream a window later —
    exactly what fixed-stride chunking (token_chunks) cannot do, and
    why CDC is the primitive for substring-level dedup of boilerplate
    shared across documents.

    Returns (id, chunk_seq, chunk, chunk_hash) — one row per chunk, in
    document order. Pure codegen: positions via sequence+filter,
    slicing via transform+substring; no UDFs, no shuffle (map-only).

    md5 keeps the boundary rule byte-portable to the DuckDB oracle
    (q90). Window hashing is O(len·window) per doc; a true gear/rolling
    hash is O(len) and worth a native fn if this op ever dominates a
    profile."""
    t = F.col(text_col)
    length = F.length(t)
    positions = F.when(
        length >= window,
        F.filter(
            F.sequence(F.lit(1), length - window + 1),
            lambda i: F.substring(F.md5(F.substring(t, i, window)), 1, 1) == "0",
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.array(F.lit(1)),
                F.transform(positions, lambda p: p + window),
                F.array(length + 1),
            )
        )
    )
    # guard the degenerate cut list (empty text → cuts == [1]):
    # sequence(1, 0) DESCENDS in Spark ([1, 0]) instead of returning
    # empty, which would index past the array — the classic
    # sequence(start > stop) trap
    chunks = F.when(
        F.size(F.col("__cuts")) >= 2,
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("__cuts")) - 1),
                lambda j: F.substring(
                    t,
                    F.element_at(F.col("__cuts"), j),
                    F.element_at(F.col("__cuts"), j + 1)
                    - F.element_at(F.col("__cuts"), j),
                ),
            ),
            lambda c: F.length(c) > 0,
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = (
        df.select(F.col(id_col), t.alias(text_col))
        .withColumn("__cuts", cuts)
        .select(id_col, F.posexplode(chunks).alias("chunk_seq", "chunk"))
    )
    return exploded.select(
        id_col,
        F.col("chunk_seq").cast("bigint").alias("chunk_seq"),
        "chunk",
        F.md5(F.col("chunk")).alias("chunk_hash"),
    )


def duplicated_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated chunk census over cdc_chunks: every
    chunk whose content occurs in >= min_docs distinct documents, with
    its spread and occurrence counts — the substring-level analogue of
    exact_dedup (whole doc) and remove_boilerplate (fixed paragraphs).
    ONE keyed shuffle on chunk_hash; chunk text itself never shuffles
    (only the 16-byte hash + counts)."""
    ch = cdc_chunks(df, id_col, text_col, window=window)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.min(F.length("chunk")).cast("bigint").alias("chunk_len"),
            F.count_distinct(F.col(id_col)).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def fuzzy_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "bench_id",
    text_col: str = "text",
    threshold: float = 0.6,
    persist: bool = True,
) -> DataFrame:
    """FUZZY benchmark decontamination: (corpus doc, benchmark doc)
    pairs with shingle Jaccard ≥ threshold, found via BIPARTITE banded
    MinHash-LSH — the near-dup complement to the exact 5-gram overlap
    census (operators/quality.contamination / q54), which only catches
    verbatim leakage; a lightly paraphrased or truncated benchmark
    item slips an exact n-gram filter but not a Jaccard one.

    Same machinery as minhash_lsh_pairs but across TWO frames: both
    sides' signatures use the identical deterministic hash family
    (xxhash64 seeded by permutation index — same shingle ⇒ same
    component on either side), the (band, bucket) join is
    corpus × benchmark rather than a self-join (no doc_a < doc_b
    dedup asymmetry, no corpus-internal pairs generated at all), and
    candidates are exact-verified with array_intersect over the full
    shingle sets. The benchmark side is typically tiny relative to the
    corpus — its bucket table behaves like a broadcast-scale build
    side, so candidate volume ≈ corpus docs that actually collide.
    Recall is the banded-LSH curve 1-(1-t^r)^b; precision 1.0 by
    construction (every emitted pair verified). Output:
    (corpus_id, bench_id, jaccard)."""
    c_sets = _shingle_sets(corpus, corpus_id, text_col, _SHINGLE_N)
    b_sets = _shingle_sets(benchmark, bench_id, text_col, _SHINGLE_N)
    if persist:
        c_sets = _persist(c_sets)
        b_sets = _persist(b_sets)
    rows = _NUM_PERM // _BANDS

    def _buckets(sets: DataFrame, out: str) -> DataFrame:
        sig = _signatures_from_sets(sets, _NUM_PERM)
        band_arr = F.array(
            *[
                F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)], F.lit(b))
                for b in range(_BANDS)
            ]
        )
        return sig.select(F.col("doc").alias(out), F.posexplode(band_arr).alias("band", "bucket"))

    candidates = (
        _buckets(c_sets, "__cid")
        .join(_buckets(b_sets, "__bid"), ["band", "bucket"], "inner")
        .select("__cid", "__bid")
        .distinct()
    )
    ca = c_sets.select(F.col("doc").alias("__cid"), F.col("sh").alias("sh_c"))
    cb = b_sets.select(F.col("doc").alias("__bid"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_c"), F.col("sh_b")))
    jac = n_common / (F.size("sh_c") + F.size("sh_b") - n_common)
    return (
        candidates.join(ca, "__cid")
        .join(cb, "__bid")
        .select(
            F.col("__cid").alias(corpus_id),
            F.col("__bid").alias(bench_id),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Persistent near-dup INDEX for incremental ingestion: one row per
    doc, columns (doc, h0..h63) — the MinHash signatures
    alone, NOT the shingle sets. This is what a production pipeline
    stores between batches: 64·8 bytes per historical doc (constant,
    text-length-independent), enough to ESTIMATE Jaccard against any
    future batch without re-reading historical text. Map-only."""
    return minhash_signatures(df, id_col, text_col, _SHINGLE_N, _NUM_PERM)


def incremental_neardup_lsh(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental near-dup gate: which BATCH docs near-duplicate any
    doc already in the historical ``minhash_index`` — the fuzzy
    counterpart of incremental_dedup's exact fingerprint anti-join,
    and the batch-ingestion shape where recomputing history is the
    thing that must never happen (history participates ONLY as its
    stored signatures; its text is never touched).

    Candidates: banded bucket join (batch signatures × index
    signatures, bipartite — no history×history pairs). Verification:
    the MINHASH ESTIMATE Ĵ = (#matching components)/64 — the
    standard unbiased estimator (E[Ĵ] = J, σ = √(J(1−J)/k) ≈ 0.06 at
    k=64) — because exact verification would require historical
    shingle sets, defeating the signature-only storage contract.
    Emitted pairs are estimator-thresholded: a true-J≥t pair can be
    missed and a slightly-below-t pair can be flagged, both within
    ~2σ of the threshold (quantified in tests against exact Jaccard).
    Output: (batch doc id, history doc id, est_jaccard)."""
    rows = _NUM_PERM // _BANDS
    b_sig = minhash_signatures(batch, id_col, text_col, _SHINGLE_N, _NUM_PERM)

    def _buckets(sig: DataFrame, out: str) -> DataFrame:
        band_arr = F.array(
            *[
                F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)], F.lit(b))
                for b in range(_BANDS)
            ]
        )
        return sig.select(
            F.col("doc").alias(out), F.posexplode(band_arr).alias("band", "bucket")
        )

    candidates = (
        _buckets(b_sig, "__new")
        .join(_buckets(index, "__old"), ["band", "bucket"], "inner")
        .select("__new", "__old")
        .distinct()
    )
    matches = sum(
        (F.col(f"nh{i}") == F.col(f"oh{i}")).cast("int") for i in range(_NUM_PERM)
    )
    new_sig = b_sig.select(
        F.col("doc").alias("__new"), *[F.col(f"h{i}").alias(f"nh{i}") for i in range(_NUM_PERM)]
    )
    old_sig = index.select(
        F.col("doc").alias("__old"), *[F.col(f"h{i}").alias(f"oh{i}") for i in range(_NUM_PERM)]
    )
    return (
        candidates.join(new_sig, "__new")
        .join(old_sig, "__old")
        .select(
            F.col("__new").alias("new_doc"),
            F.col("__old").alias("history_doc"),
            (matches / F.lit(_NUM_PERM)).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (PassJoin segment blocking)
# ---------------------------------------------------------------------------


def edit_neardup_pairs(
    df: "DataFrame", col: str = "p_name", k: int = 2
) -> "DataFrame":
    """All DISTINCT-value pairs within Levenshtein distance ≤ k —
    exact, with PassJoin segment blocking (Li, Deng & Feng 2011,
    public) instead of a quadratic length-bucket join.

    Theorem (pigeonhole over an optimal alignment): partition a string
    s into k+1 contiguous segments; any t with lev(s,t) ≤ k contains at
    least one segment EXACTLY, at a position shifted from its position
    in s by at most k (≤ k net indels can precede it). Partitioning the
    SHORTER string of each pair suffices, so the index carries every
    value's k+1 segments and the probe enumerates, per string t, only
    the substrings matching segments of indexed lengths ≤ len(t)
    (dl ∈ [-k, 0]) — ≤ (k+1)²·(2k+1) probes, a CONSTANT per string,
    making candidate generation linear in distinct values versus the
    length-key join's O(Σ bucket²) which the sf1→sf10 scaling
    measurement caught going 69× for 10× data (SCALING.md round-7
    note). Zero recall loss: the window is the theorem's, and the
    exact DP (`levenshtein`) verifies every candidate. The join key is
    ONE xxhash64 over (segment_index, segment_text, length): narrower
    shuffle, still exact — a collision can only ADD a candidate. Both
    segment enumerations are transform/filter LAMBDAS over a literal
    combo array (the dbscan-offsets trick): a literal per-combo
    expression forest made whole-stage codegen compile seconds of
    Janino per query — the lambda keeps the plan small.

    Strings shorter than k+1 cannot be segmented (zero-length segment
    matches everywhere); they are routed through a direct
    length-window join against values of length ≤ 2k+1 — both sides
    alphabet-bounded sets (distinct strings shorter than k+1), so the
    side path is broadcast-sized by construction.

    Segment layout for length l: base = l div (k+1), rem = l mod
    (k+1); the first (k+1-rem) segments have length base, the rest
    base+1; start_i = i·base + max(0, i-(k+1-rem)).

    Returns (name_a, name_b, edit_distance) with name_a < name_b.
    Everything is JVM expressions (substr/levenshtein) — no Python in
    the hot path."""
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    nseg = k + 1
    # no persist of the distinct-value table: its four consumers (index
    # side, probe side, short-string side ×2) each filter on the length,
    # the optimizer pushes each filter below the distinct's exchange
    # onto the scan of the one name column, and the index and probe
    # sides share the same filter, so AQE reuses that exchange. The
    # persist cost a materializing job of its own: without it q250 at
    # sf0.01 runs 6 jobs and 6 tasks instead of 9 and 226, and at sf1
    # takes 1.30 s instead of 1.93 s (SCALING.md wave 10).
    names = df.select(F.col(col).alias("name")).distinct().select(
        "name", F.length("name").alias("l")
    )
    long_names = names.filter(F.col("l") >= nseg)

    def _hash_at(l_col, i_col, start_col):
        """xxhash64(i, segment-of-this-row's-name at start/len, l) for
        segment i of an l_col-length layout — shared by both sides so
        the keys agree bit-for-bit."""
        base, rem = F.floor(l_col / nseg), l_col % nseg
        ln = base + F.when(i_col >= nseg - rem, 1).otherwise(0)
        return ln, F.xxhash64(
            i_col.cast("int"), F.substr("name", start_col + 1, ln), l_col.cast("int")
        )

    def _start(l_col, i_col):  # 0-based segment start
        base, rem = F.floor(l_col / nseg), l_col % nseg
        return i_col * base + F.greatest(i_col - (F.lit(nseg) - rem), F.lit(0))

    seg_ids = F.array(*[F.lit(i) for i in range(nseg)])
    idx = long_names.select(
        F.col("name").alias("name_b"),
        F.explode(
            F.transform(
                seg_ids,
                lambda i: _hash_at(F.col("l"), i, _start(F.col("l"), i))[1],
            )
        ).alias("hk"),
    )

    # probe side: substrings of t that could equal segment i of an
    # indexed (shorter-or-equal) string of length l = len(t)+dl,
    # shifted by at most k
    combos = F.expr("array(" + ", ".join(
        f"named_struct('dl', {dl}, 'i', {i}, 'sh', {sh})"
        for dl in range(-k, 1)
        for i in range(nseg)
        for sh in range(-k, k + 1)
    ) + ")")
    m = F.col("l")

    def _probe_hash(c):
        lb = m + c.getField("dl")
        i = c.getField("i")
        p = _start(lb, i) + c.getField("sh")
        ln, h = _hash_at(lb, i, p)
        return F.when((lb >= nseg) & (p >= 0) & (p + ln <= m), h)

    probe = long_names.select(
        F.col("name").alias("name_a"),
        F.explode(
            F.array_distinct(
                F.filter(F.transform(combos, _probe_hash), lambda h: h.isNotNull())
            )
        ).alias("hk"),
    )
    d = F.levenshtein("name_a", "name_b")
    cand = (
        probe.join(idx, "hk")
        .filter(F.col("name_a") != F.col("name_b"))
        .select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
        )
        .distinct()
    )
    # short-string side path: values shorter than k+1 can only pair
    # with values of length <= 2k (lev <= k bounds the gap); both sets
    # are alphabet-bounded, broadcast the smaller
    short = names.filter(F.col("l") < nseg)
    short_cand = (
        F.broadcast(short.select(F.col("name").alias("name_a")))
        .crossJoin(names.filter(F.col("l") <= 2 * k).select(F.col("name").alias("name_b")))
        .filter(F.col("name_a") != F.col("name_b"))
        .select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
        )
        .distinct()
    )
    # no distinct over the union (r12): each branch is already distinct
    # and they are disjoint by construction — every cand pair has BOTH
    # members of length >= k+1, every short_cand pair has at least one
    # shorter member — so the outer distinct was a pure extra shuffle
    # of the full pair set
    return (
        cand.unionByName(short_cand)
        .filter(d <= k)
        .select("name_a", "name_b", d.cast("bigint").alias("edit_distance"))
    )


def shingle_cooccurrence_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = 1_000,
) -> DataFrame:
    """Canonical (doc_a < doc_b) edge list of the shared-shingle
    CO-OCCURRENCE graph: one edge per document pair sharing at least
    one n-gram shingle. This is the densest data-derived dup graph the
    corpus admits (no similarity threshold prunes it), so it is the
    natural stress input for the triangle/cohesion family — q294 runs
    its sampled triangle estimate on exactly this graph, where the
    exact wedge-join tier (q127's triangle_counts) refuses past its
    10^8-wedge budget.

    ``max_shingle_freq`` bounds pair PRODUCTION, not just downstream
    work: a shingle shared by f documents emits C(f,2) join rows, so
    one ubiquitous boilerplate shingle at corpus scale is a quadratic
    melt before any triangle logic runs. Shingles with document
    frequency above the cap are dropped (standard frequent-feature
    practice — a near-universal shingle carries no cohesion signal);
    every join key then emits at most C(cap, 2) rows — join volume
    linear in distinct shingles — and every other stage is a linear
    scan. At the shipped
    test corpora the max df is 25, so the default cap of 1000 is a
    no-op there (the test-scale graph is exactly exact); at 100 TB it
    is the fence that keeps this operator serveable. ``None`` removes
    the cap (vetted corpora only).

    Plan shape (r13): shingle index -> ONE shingle-keyed exchange ->
    df-cap window filter -> shingle self-join (both sides reuse that
    same exchange) -> map-side-combined distinct on (doc_a, doc_b).
    No persist anywhere: the self-join's two sides are identical
    subtrees, so ReusedExchange computes the shingle chain once; the
    old persisted-index shape raced two concurrent stages into
    computing the unmaterialized cache twice. No node ever sees more
    than its own shingle groups; the distinct is the only edge-sized
    shuffle.

    The shingle index is SPREAD (scale.spread_scan, r12): pair
    production is the heaviest map work in this operator (the self-join
    emits up to C(cap,2) rows per shingle), and a single-row-group
    input would otherwise persist the index 1-partitioned and run the
    whole join map side on one core (measured: the 8.4 MB map stage of
    q294's edge distinct ran 1-task/1.2 s serial at sf0.1). Adaptive —
    no-op on any input whose scan already parallelizes."""
    from sales_data_pipeline_spark.operators.scale import spread_scan

    occ = _shingle_index(spread_scan(df.select(id_col, text_col)), id_col, text_col, _SHINGLE_N)
    if max_shingle_freq is not None:
        # df cap via ONE shingle-keyed window, not groupBy+join-back
        # (r13, the q22 lesson): the join shape consumed the persisted
        # occ from TWO concurrent stages (the dfreq partial agg and the
        # join-side exchange), and a cache that hasn't materialized yet
        # is COMPUTED BY BOTH racers — the q294 profile showed the
        # shingle chain running twice (17.7 s + 8.1 s stages). The
        # window computes the identical count on occ's single exchange;
        # occ now has one consumer, so the persist (and the race) goes
        # away entirely.
        from pyspark.sql import Window as _W

        occ = (
            occ.withColumn(
                "__df", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
            )
            .filter(F.col("__df") <= max_shingle_freq)
            .select("doc", "shingle")
        )
    a = occ.select("shingle", F.col("doc").alias("doc_a"))
    b = occ.select("shingle", F.col("doc").alias("doc_b"))
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_pair_estimate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    target_cooccur: int = 10_000_000,
    salt: str = "",
) -> DataFrame:
    """Duplication-census ESTIMATE for the exact Jaccard tier that
    stays serveable on corpora past its candidate fence — the r11
    serve-past-the-fence move (q294's DOULION playbook) applied to
    PPJoin: `ngram_jaccard_pairs` refuses a blind call whose candidate
    volume implies a quadratic melt; this answers "how MANY exact
    near-dup pairs at J >= t does the corpus hold" in bounded time on
    ANY corpus (the pair LIST at scale remains minhash_lsh_pairs).

    Doc sampling: keep each document with probability p, run the EXACT
    tier on the sampled sub-corpus, scale the pair count by 1/p² —
    unbiased (a pair survives iff both endpoints survive), the direct
    analogue of DOULION's edge sampling one level up. p =
    min(1, sqrt(target_cooccur / C)) where C = Σ_shingle C(df, 2) is
    the shared-shingle CO-OCCURRENCE volume — an engine-portable upper
    bound on the PPJoin candidate count, computed exactly from one
    linear document-frequency census (the prefix-index census the
    guard itself uses is sharper but depends on the xxhash64 total
    order, which an external SQL engine cannot replicate). Expected
    post-sampling co-occurrence volume is p²·C <= target_cooccur, so
    the sampled exact tier runs comfortably inside its own default-on
    `max_candidates` budget; a corpus already under the target runs
    EXACT through the same plan (p clamps to 1, exact_mode=true) — a
    continuous dial, no branch, no eager driver action.

    Determinism: the keep/drop decision is the cross-engine md5-13-hex
    uniform on 'jac<salt>:<id>', so the whole pipeline — census, p,
    sampled exact pairs, 1/p² scale-up — is a pure function of
    (corpus, target, salt) and is replicated bitwise by q297's DuckDB
    oracle at every driver SF, sampled regime included. Vary ``salt``
    for independent resamples (the unbiasedness tests average over
    salts).

    Output (one row): n_docs, cooccur_candidates (exact, bigint),
    sample_p, n_pairs_sampled (bigint), est_pairs (double), exact_mode.

    Scale shape: the shingle index is persisted (dedup cache registry)
    and feeds only the df census; the sampled sub-corpus feeds the
    exact tier, which persists its own ordered sets. Nothing in the
    plan exceeds target_cooccur join rows plus two linear scans."""
    occ = _persist(_shingle_index(df, id_col, text_col, _SHINGLE_N))
    dfreq = occ.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    d19 = F.col("__df").cast("decimal(19,0)")
    census = dfreq.agg(
        F.coalesce(
            F.sum(d19 * (d19 - F.lit(1))), F.lit(0).cast("decimal(38,0)")
        ).alias("__sp")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    # persist the 1-row params (r12): it has two consumers (the doc
    # sampling filter and the output row) and without a materialization
    # the census + corpus count executed twice — the q294 lesson applied
    # to this operator. Still lazy: no job at plan construction.
    params = _persist(
        census.crossJoin(F.broadcast(n_docs)).select(
            "__sp",
            "__n_docs",
            F.when(
                F.col("__sp") > 0,
                F.least(
                    F.lit(1.0),
                    F.sqrt(
                        F.lit(float(target_cooccur))
                        / (F.col("__sp").cast("double") / F.lit(2.0))
                    ),
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("__p"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"jac{salt}:"), F.col(id_col).cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(4503599627370496.0)  # 2^52
    )
    sampled = (
        df.crossJoin(F.broadcast(params.select("__p")))
        .filter(u < F.col("__p"))
        .select(id_col, text_col)
    )
    pairs = ngram_jaccard_pairs(
        sampled, id_col=id_col, text_col=text_col, n=_SHINGLE_N, threshold=threshold
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("__np"))
    p = F.col("__p")
    # clamp before the bigint cast (r12, ADVICE r11) — same rationale
    # as triangle_count_estimate's n_wedges: the decimal census exists
    # because C can pass 2^63 at web scale, so the output cast must
    # saturate, not ANSI-crash, exactly there. The clamp caps __sp at
    # 2*maxLong in its own DECIMAL(38,0) type BEFORE the /2, so the
    # division's result type (and every value below 2^63 — all test
    # SFs) is bit-identical to the unclamped form.
    # PARITY DOMAIN (ADVICE r12): the DuckDB oracle has no saturation,
    # so bitwise parity on cooccur_candidates holds for C < 2^63 only;
    # past that (web scale) this engine saturates where the oracle
    # engine would overflow — the documented edge of the contract.
    two_max_long = F.lit("18446744073709551614").cast("decimal(38,0)")
    return n_pairs.crossJoin(F.broadcast(params)).select(
        F.col("__n_docs").cast("bigint").alias("n_docs"),
        (F.least(F.col("__sp"), two_max_long) / 2)
        .cast("bigint")
        .alias("cooccur_candidates"),
        p.alias("sample_p"),
        F.col("__np").alias("n_pairs_sampled"),
        (F.col("__np").cast("double") / (p * p)).alias("est_pairs"),
        (p >= F.lit(1.0)).alias("exact_mode"),
    )
