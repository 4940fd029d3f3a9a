"""Text-analysis operators for LLM-data pipelines — all Catalyst built-ins.

Everything here is expression-level (split / higher-order functions /
hashes), so it runs JVM-side inside whole-stage codegen and scales
linearly with no shuffle: at 100 TB these are embarrassingly parallel
map stages whose cost is the parquet scan itself.

Determinism: ratios are computed as int/int double divisions with a
fixed expression shape so the DuckDB oracle reproduces values bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Function-word set used by the language heuristic. On real corpora this
# would be a per-language table (broadcast-joined); the principle — a
# stopword-hit-ratio over tokens, no UDF — is identical.
EN_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")

# Minimum stopword-hit ratio for lang_id and lang_id_multi to name a language.
_LANG_THRESHOLD = 0.03


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def stopword_count(col: Column | str) -> Column:
    """# tokens that are English function words — a filter() higher-order fn, no UDF."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(*EN_STOPWORDS))).cast("bigint")


def unique_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("bigint")


# BPE-style pre-tokenization pattern (GPT-2-like, lookahead-free so the
# same pattern means the same thing in Java regex and RE2): a token is
# an optionally space-prefixed letter run, digit run, or punctuation
# run. Subword BPE merges only ever split within these pre-tokens, so
# this count is the standard cheap proxy for "LLM tokens" in corpus
# accounting.
BPE_PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"


def bpe_token_count(col: Column | str) -> Column:
    """# BPE-ish pre-tokens (regex runs), vs whitespace token_count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0)).cast("bigint")


def token_chunks(col: Column | str, size: int, stride: int | None = None) -> Column:
    """Fixed-stride token chunking — the context-window/RAG primitive:
    split a document into ``size``-token chunks starting every
    ``stride`` tokens (stride < size ⇒ overlapping windows; default
    stride = size ⇒ disjoint). Returns
    ``array<struct<chunk_id bigint, chunk string, n_tokens bigint>>``
    where chunk_id is the 0-based window index and n_tokens the actual
    chunk length (the tail chunk may be short).

    Pure expression (sequence/filter/transform/slice — all codegen), so
    chunking 100 TB is a map stage bounded by the scan. Combined with
    ``F.inline`` it yields one row per chunk without any shuffle."""
    if size <= 0 or (stride is not None and stride <= 0):
        raise ValueError(f"size and stride must be positive, got {size}/{stride}")
    stride = stride or size
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: s < n,
    )
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, s + 1, size)).alias("chunk"),
            F.size(F.slice(toks, s + 1, size)).cast("bigint").alias("n_tokens"),
        ),
    )


# 2^50-scale prime: acc < M keeps acc*31+c < 2^63 (no Java overflow,
# no DuckDB BIGINT overflow error) so both engines roll identically.
ROLLING_HASH_MOD = 1_125_899_906_842_589


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over the character stream:
    h_i = (31·h_{i-1} + code(c_i)) mod M — the classic Rabin-Karp
    fingerprint, computed as one aggregate() fold (JVM-side, no UDF).
    Unlike md5 it is incrementally maintainable over a sliding window
    (h_out = h - c·31^{k-1} shifts), the property content-defined
    chunking and winnowing build on."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(ROLLING_HASH_MOD),
    )


def kgram_hashes(col: Column | str, k: int = 8) -> Column:
    """Per-position character k-gram hashes: first 8 hex digits of
    md5(k-gram) as bigint — md5 makes the values engine-portable (the
    DuckDB oracle computes the identical numbers). Empty array for
    texts shorter than k (a bare sequence(1, n-k+1) would DESCEND for
    short texts and emit garbage positions)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    idx = F.sequence(F.lit(1), n - (k - 1))
    gram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(c.substr(i, F.lit(k))), 1, 8), 16, 10
    ).cast("bigint")
    return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.transform(idx, gram_hash)
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, robust
    variant): hash every char k-gram, slide a w-window over the hash
    stream, keep each window's MINIMUM — guaranteeing any shared
    substring of length ≥ k+w-1 contributes at least one common
    fingerprint between two documents, while storing ~1/w of the
    hashes. Output: (id, fp: sorted distinct minima array).

    The hash array is PROJECTED before the window pass (two references
    to an inline expression would re-evaluate the whole k-gram pipeline
    per window position — the same multi-reference pathology
    shingle_hashes_from_tokens documents).

    Hash choice: md5-per-k-gram is O(k) per position, picked because the
    DuckDB oracle reproduces it bit-for-bit. Production winnowing swaps
    in the O(1)-per-position rolling polynomial (rolling_hash's update
    rule) — identical plan shape, no oracle portability."""
    h_df = df.select(
        F.col(id_col).alias("doc"), kgram_hashes(text_col, k).alias("__h")
    )
    m = F.size("__h")
    wins = F.when(m < w, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - (w - 1)),
            lambda j: F.array_min(F.slice("__h", j, w)),
        )
    )
    return h_df.select(
        F.col("doc").alias(id_col),
        F.array_sort(F.array_distinct(wins)).alias("fp"),
    )


def lang_id(col: Column | str) -> Column:
    """N-gram-free language heuristic: stopword-hit ratio ≥ 0.03 → 'en'.

    A real multi-language classifier is the same plan shape with a
    per-language stopword map (explode + broadcast join + argmax)."""
    ratio = stopword_count(col) / token_count(col)
    return F.when(ratio >= _LANG_THRESHOLD, F.lit("en")).otherwise(F.lit("other"))


# Tiny per-language function-word sets for the multi-language variant.
# Real deployments load these from a linguistic resource; the plan shape
# (per-language hit-ratio + deterministic argmax) is what matters.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
}


def lang_id_multi(col: Column | str) -> Column:
    """Multi-language ID: per-language stopword-hit ratio, argmax with a
    deterministic tie-break (higher ratio wins; equal ratios pick the
    lexicographically FIRST language code), 'other' when the best ratio
    is under 0.03.

    For a handful of languages the ratios are pure codegen expressions
    over one tokenization (literal IN-lists — each filter() pass is
    JVM-side); at dozens of languages the same logic becomes explode +
    broadcast-join against a (lang, word) table + groupBy argmax, the
    shape the single-language docstring describes."""
    toks = tokens(col)
    n = F.size(toks).cast("bigint")
    scored = [
        F.struct(
            (F.size(F.filter(toks, lambda t: t.isin(*words))).cast("bigint") / n).alias("ratio"),
            # negate the code ordering so array_max's (ratio, key) max
            # picks the lexicographically FIRST code on ratio ties
            F.lit(-i).alias("key"),
            F.lit(code).alias("lang"),
        )
        for i, (code, words) in enumerate(sorted(LANG_STOPWORDS.items()))
    ]
    best = F.array_max(F.array(*scored))
    return F.when(best.getField("ratio") >= _LANG_THRESHOLD, best.getField("lang")).otherwise(
        F.lit("other")
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length-band flag, lexical diversity,
    bounded stopword ratio — the standard cheap pre-filters in front of
    expensive pipeline stages (dedup, embedding)."""
    n = token_count(col)
    length_ok = F.when((n >= 20) & (n <= 80), F.lit(1.0)).otherwise(F.lit(0.0))
    unique_ratio = unique_token_count(col) / n
    stop = F.least(stopword_count(col) / n * 10.0, F.lit(1.0))
    return length_ok * 0.4 + unique_ratio * 0.3 + stop * 0.3


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint (md5 of normalized text).
    Used as the exact-dedup key; identical across engines/runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(c))


def shingle_hashes_from_tokens(tokens_col: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles as an array<bigint> of xxhash64
    values — the hot-path representation for Jaccard/MinHash: the hash
    is computed straight from the n token columns (no intermediate
    string build), and downstream joins/intersections move 8-byte longs
    instead of ~30-char strings. A 64-bit space makes hash-collision
    distortion of set sizes negligible (~|S|²/2⁶⁵).

    ``tokens_col`` must be an ALREADY-PROJECTED array column (project
    ``tokens(text)`` in a prior select). Referencing a token expression
    inline would re-evaluate the split per lambda element — measured
    ~15× slower; Catalyst keeps an expensive multi-referenced alias in
    its own projection, evaluated once per row."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.when(F.size(t) < n, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(n)]),
            )
        )
    )


def ngrams_from_tokens(tokens_col: Column | str, n: int = 5) -> Column:
    """ALL word n-gram occurrences in order — NOT deduplicated (unlike
    ``shingle_hashes_from_tokens``): the unit for occurrence counting (repeated-span
    census, memorization-risk audits) where a gram appearing twice in
    one doc must count twice. ``tokens_col`` must be an
    ALREADY-PROJECTED array column (same contract and reason as
    shingle_hashes_from_tokens: an inline token expression re-evaluates
    the split per lambda element). Guarded transform-over-offsets,
    pure codegen."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
    )


def phrase_hits_scan(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase occurrence counts per document, map-only: project
    the token array once, then count positions i where
    tokens[i..i+m-1] equals the phrase (overlapping occurrences count
    — 'a a a' holds 'a a' twice). ZERO shuffles before the final
    per-doc projection: at 100 TB this is one corpus scan with the
    match evaluated in whole-stage codegen, the right plan when no
    persistent index exists. Returns (id_col, n_hits) for docs with
    >= 1 hit."""
    words = phrase.split()
    if not words:
        raise ValueError("phrase must contain at least one token")
    m = len(words)
    toks = F.split(F.regexp_replace(F.col(text_col), r"\s+", " "), " ")
    # Hit mask built from m aligned slices zipped together — NOT a
    # positional filter() with element_at lookups: CollapseProject
    # inlines a projected split() back into lambda bodies, so an
    # element_at-per-position formulation re-evaluates the split
    # O(positions·m) times per row (measured 8× slower at sf0.1, the
    # same trap ngrams_from_tokens documents). Slices reference the
    # array ≤ m times total; slice length 0 on short docs is an empty
    # array, no guard branch needed.
    base = docs.select(F.col(id_col), toks.alias("__t"))
    t = F.col("__t")
    win = F.greatest(F.size(t) - (m - 1), F.lit(0))
    def _and_eq(w):
        return lambda o, x: o & (x == F.lit(w))

    ok = F.transform(F.slice(t, 1, win), lambda x: x == F.lit(words[0]))
    for k in range(1, m):
        ok = F.zip_with(ok, F.slice(t, k + 1, win), _and_eq(words[k]))
    return (
        base.select(
            id_col,
            F.size(F.filter(ok, lambda b: b)).cast("bigint").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )
