"""Similarity + multimodal properties the SQL oracle can't express:
LSH recall vs brute force, top-k vs a numpy reference, codec stub
behavior."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sales_data_pipeline_spark.catalog import table
from sales_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
)
from sales_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_lsh,
    embedding_neardup_pairs,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").cache()


def test_ivf_recall_vs_bruteforce(spark, emb):
    """IVF (16 cells, probe 4) must recover most of the exact top-10 on
    this naturally-clustered corpus."""
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=10).collect()
    approx = ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall too low: {recall}"


def test_neardup_lsh_precision_and_recall_vs_exact(spark, emb):
    """q52's contract vs its q26 oracle: every emitted pair must appear
    in the exact result (precision 1.0 — candidates are exact-verified),
    and bucketing must recover most exact pairs (recall bound from the
    collision probability at this corpus's 0.4-0.51 sim range)."""
    exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(emb, threshold=0.4).collect()}
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(
            emb, threshold=0.4, n_tables=16, n_bits=4
        ).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"LSH near-dup recall too low: {recall}"


def test_neardup_lsh_planted_high_sim_recall(spark, emb):
    """Production regime (operator defaults): planted cos≈0.999 pairs
    must ALL surface — this is the 100 TB near-dup configuration."""
    base = emb.limit(50).collect()
    rows = [(r.vec_id, r.embedding) for r in base]
    planted = [
        (1000 + r.vec_id, [x * 1.001 + 0.001 for x in r.embedding])
        for r in base[:5]
    ]
    corpus = spark.createDataFrame(
        rows + planted, "vec_id long, embedding array<float>"
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(corpus, threshold=0.95).collect()
    }
    want = {(r.vec_id, 1000 + r.vec_id) for r in base[:5]}
    assert want <= got, f"missed planted near-dups: {want - got}"


def test_topk_matches_numpy(spark, emb):
    """Brute-force top-k agrees with a numpy reference (modulo the
    9-digit rounding both apply before ranking)."""
    rows = emb.orderBy("vec_id").collect()
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = np.round(Mn @ Mn.T, 9)

    got = cosine_topk(emb, emb.filter(F.col("vec_id") == 3), k=5).collect()
    qi = int(np.where(ids == 3)[0][0])
    order = sorted(
        [(float(-sims[qi, j]), int(ids[j])) for j in range(len(ids)) if ids[j] != 3]
    )[:5]
    expect = [vid for _, vid in order]
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == expect


def test_real_codec_raises(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(1)
    media = attach_binary_payload(docs, "doc_id")
    with pytest.raises(NotImplementedError, match="jpeg"):
        decode_media(media, codec="jpeg")


def _make_ppm(i: int, header_comment: bool = False) -> tuple[int, int, bytes, bytes]:
    """Deterministic P6 image i: (width, height, rgb, encoded)."""
    from sales_data_pipeline_spark.operators.multimodal import encode_ppm

    w, h = 4 + i, 3 + i
    rgb = bytes(
        (x * 7 + y * 11 + c * 13 + i) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    enc = encode_ppm(w, h, rgb)
    if header_comment:
        enc = enc.replace(b"P6\n", b"P6\n# deterministic test image\n", 1)
    return w, h, rgb, enc


def test_ppm_decode_matches_numpy_reference(spark):
    """codec='ppm' is a REAL decoder: dimensions and per-channel means
    must equal a numpy computation over the same generated rasters —
    including a header with a '#' comment line."""
    images = [_make_ppm(i, header_comment=(i == 2)) for i in range(4)]
    media = spark.createDataFrame(
        [(i, enc) for i, (_, _, _, enc) in enumerate(images)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in decode_media(media, codec="ppm").collect()}
    assert len(got) == 4
    for i, (w, h, rgb, _) in enumerate(images):
        px = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
        r = got[i]
        assert (r.width, r.height, r.maxval, r.n_pixels) == (w, h, 255, w * h)
        assert r.mean_r == px[:, 0].mean()
        assert r.mean_g == px[:, 1].mean()
        assert r.mean_b == px[:, 2].mean()


def test_ppm_decode_rejects_malformed(spark):
    from sales_data_pipeline_spark.operators.multimodal import _ppm_header

    with pytest.raises(ValueError, match="not a P6"):
        _ppm_header(b"P5\n2 2\n255\n" + b"\0" * 4)
    with pytest.raises(ValueError, match="truncated|invalid literal"):
        _ppm_header(b"P6\n2")


# ---------------------------------------------------------------------------
# distributed k-means + semantic dedup (q85/q86 covering checks)
# ---------------------------------------------------------------------------


def _numpy_spherical_kmeans(x: np.ndarray, k: int, iters: int):
    """Reference Lloyd's with the operator's exact contract: id-order
    init, unit vectors, sims rounded to 9, argmax tie→lowest, final
    assignment against the post-loop centroids."""
    u = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = u[:k].copy()
    for _ in range(iters):
        assign = np.argmax(np.round(u @ cents.T, 9), axis=1)
        new = cents.copy()
        for c in range(k):
            m = u[assign == c]
            if len(m):
                v = m.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 1e-12:
                    new[c] = v / n
        cents = new
    return np.argmax(np.round(u @ cents.T, 9), axis=1), cents


def test_kmeans_matches_numpy_reference(spark, emb):
    from sales_data_pipeline_spark.operators.similarity import kmeans_clusters

    got = kmeans_clusters(emb, k=8, iters=3).orderBy("vec_id").collect()
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    want, _ = _numpy_spherical_kmeans(x, k=8, iters=3)
    assert [r.cluster for r in got] == want.tolist()
    # every vector appears exactly once
    assert len(got) == len(rows)
    assert len({r.vec_id for r in got}) == len(rows)


def test_kmeans_deterministic_across_partitionings(spark, emb):
    from sales_data_pipeline_spark.operators.similarity import kmeans_clusters

    a = kmeans_clusters(emb, k=4, iters=2).orderBy("vec_id").collect()
    b = (
        kmeans_clusters(emb.repartition(13), k=4, iters=2)
        .orderBy("vec_id")
        .collect()
    )
    assert [(r.vec_id, r.cluster) for r in a] == [(r.vec_id, r.cluster) for r in b]


def test_semantic_dedup_collapses_planted_duplicates(spark, emb):
    """Exact duplicate vectors land in the same cluster (identical
    cosine to every centroid) — SemDeDup must keep only the lowest id
    of each planted group, and never drop a vector with no neighbor."""
    from sales_data_pipeline_spark.operators.similarity import semantic_dedup

    base = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    clones = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(clones)
    kept = semantic_dedup(corpus, k=4, iters=2, threshold=0.999)
    kept_ids = {r.vec_id for r in kept.collect()}
    # every clone dropped (its original has the lower id)...
    assert not any(i >= 100000 for i in kept_ids)
    # ...and nothing else was (max natural sim in this corpus ≈ 0.51)
    assert kept_ids == {r.vec_id for r in base.collect()}


def test_semantic_dedup_dropped_have_real_neighbor(spark, emb):
    """Precision at the catalog threshold: every dropped id must have a
    lower-id partner at cosine ≥ threshold per exact brute force."""
    from sales_data_pipeline_spark.operators.similarity import semantic_dedup

    t = 0.45
    kept = {r.vec_id for r in semantic_dedup(emb, k=8, iters=3, threshold=t).collect()}
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    u = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    S = np.round(u @ u.T, 9)
    dropped = [i for i in ids if i not in kept]
    assert dropped, "catalog threshold should drop at least one vector here"
    for d in dropped:
        di = ids.index(d)
        partners = [j for j in range(len(ids)) if ids[j] < d and S[di, j] >= t]
        assert partners, f"dropped {d} has no exact near-neighbor"


# ---------------------------------------------------------------------------
# WAV codec (q91 covering checks)
# ---------------------------------------------------------------------------


def test_wav_roundtrip_matches_numpy(spark):
    from sales_data_pipeline_spark.operators.multimodal import (
        _wav_parse,
        decode_wav,
        encode_wav,
    )

    rng = np.random.RandomState(7)
    cases = {
        1: rng.randint(-32768, 32768, size=257).astype(np.int16),
        2: np.zeros(5, dtype=np.int16),
        3: np.array([-32768, 32767, 0, -1, 1], dtype=np.int16),
    }
    df = spark.createDataFrame(
        [(k, bytearray(encode_wav(8000, v))) for k, v in cases.items()],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in decode_wav(df).collect()}
    for k, v in cases.items():
        r = got[k]
        assert r.n_samples == len(v)
        assert r.sample_rate == 8000 and r.bits == 16 and r.n_channels == 1
        v64 = v.astype(np.int64)
        # RAW feature contract (rounding is the query's concern)
        assert r.rms == float((int((v64 * v64).sum()) / len(v)) ** 0.5)
        assert r.peak == int(np.abs(v64).max())
        # parser agrees with its own encoder byte-for-byte
        _, _, _, parsed = _wav_parse(bytes(encode_wav(8000, v)))
        assert np.array_equal(parsed, v)


def test_wav_odd_data_chunk_word_alignment(spark):
    """RIFF chunks are word-aligned: a chunk placed before 'data' with
    an odd length must not desynchronize the walk."""
    import struct

    from sales_data_pipeline_spark.operators.multimodal import _wav_parse, encode_wav

    base = encode_wav(8000, np.array([1, -2, 3], dtype=np.int16))
    # splice an odd-length LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    raw = base[:fmt_end] + odd + base[fmt_end:]
    raw = raw[:4] + struct.pack("<I", len(raw) - 8) + raw[8:]
    _, sr, _, samples = _wav_parse(raw)
    assert sr == 8000 and np.array_equal(samples, [1, -2, 3])


def test_wav_rejects_malformed(spark):
    from sales_data_pipeline_spark.operators.multimodal import _wav_parse, encode_wav

    with pytest.raises(ValueError):
        _wav_parse(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        _wav_parse(b"nonsense")
    # 8-bit / non-PCM formats are refused, not silently misread
    good = bytearray(encode_wav(8000, np.array([0, 1], dtype=np.int16)))
    good[20] = 3  # audio_format = 3 (IEEE float)
    with pytest.raises(ValueError):
        _wav_parse(bytes(good))


def test_knn_graph_recall_vs_bruteforce(spark, sf_dir):
    """Per-node recall of the LSH kNN graph vs exact brute-force top-k
    on the same corpus (few-bits/many-tables regime for this
    moderate-similarity corpus)."""
    from sales_data_pipeline_spark.catalog import table as _table
    from sales_data_pipeline_spark.operators.similarity import cosine_topk, knn_graph

    emb = _table(spark, sf_dir, "embeddings").limit(120).cache()
    k = 5
    exact = cosine_topk(emb, emb, k=k)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set] = {}
    for r in knn_graph(emb, k=k, n_tables=16, n_bits=4).collect():
        got.setdefault(r.src, set()).add(r.dst)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.6, hits / total
    emb.unpersist()


def test_knn_graph_shape(spark, sf_dir):
    """Every node appears, ranks are contiguous from 1, at most k rows
    per node, and each sim is the exact (rounded) cosine of its pair."""
    from sales_data_pipeline_spark.catalog import table as _table
    from sales_data_pipeline_spark.operators.similarity import (
        as_double_array,
        cosine_similarity,
        knn_graph,
    )

    emb = _table(spark, sf_dir, "embeddings").limit(60).cache()
    g = knn_graph(emb, k=3, n_tables=16, n_bits=4)
    rows = g.collect()
    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    assert len(by_src) == 60  # 16 tables × 4 bits: every node collides somewhere
    for src, rs in by_src.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), (src, ranks)
        assert len(rs) <= 3
    # spot-verify sims: recompute exact cosine for one node's edges
    some = rows[:20]
    pairs = spark.createDataFrame(
        [(r.src, r.dst, r.sim) for r in some], "src long, dst long, sim double"
    )
    va = emb.select(F.col("vec_id").alias("src"), as_double_array("embedding").alias("sv"))
    vb = emb.select(F.col("vec_id").alias("dst"), as_double_array("embedding").alias("dv"))
    chk = pairs.join(va, "src").join(vb, "dst").select(
        "sim", F.round(cosine_similarity(F.col("sv"), F.col("dv")), 9).alias("want")
    )
    for r in chk.collect():
        assert r.sim == r.want
    emb.unpersist()


def test_audio_spectral_matches_numpy_reference(spark):
    """The mapInPandas FFT features must equal a direct local numpy
    computation on the identical synthesized bytes — the covering check
    for an operator no SQL oracle can recompute."""
    import numpy as np

    from sales_data_pipeline_spark.operators.multimodal import (
        audio_spectral_features,
        synth_wav_payloads,
    )

    ids = spark.createDataFrame([(i,) for i in (1, 7, 42, 99)], "doc_id long")
    got = {
        r.media_id: (r.n_samples, r.dominant_hz, r.spectral_centroid_hz,
                     r.rolloff85_hz, r.total_power)
        for r in audio_spectral_features(synth_wav_payloads(ids)).collect()
    }
    sr = 8000
    for mid in (1, 7, 42, 99):
        n = 100 + mid % 50
        i = np.arange(n, dtype=np.int64)
        s = (((mid * 7919 + i * 31) % 65536) - 32768).astype(np.float64)
        spec = np.abs(np.fft.rfft(s)) ** 2
        power, freqs = spec[1:], np.fft.rfftfreq(n, d=1.0 / sr)[1:]
        tot = float(power.sum())
        dom = float(freqs[int(power.argmax())])
        centroid = float((freqs * power).sum() / tot)
        cum = np.cumsum(power)
        rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * tot))])
        gn, gd, gc, gr, gt = got[mid]
        assert gn == n
        assert gd == dom and gr == rolloff
        assert abs(gc - centroid) < 1e-9 * abs(centroid)
        assert abs(gt - tot) < 1e-9 * tot


# ---------------------------------------------------------------------------
# per-dimension standardization
# ---------------------------------------------------------------------------


def test_standardize_embeddings_matches_numpy(spark):
    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import (
        standardize_embeddings,
    )

    rng = np.random.RandomState(7)
    x = rng.randn(40, 5) * np.array([1.0, 10.0, 0.1, 100.0, 3.0]) + np.array(
        [0.0, 5.0, -2.0, 50.0, 0.0]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    got = {
        r.vec_id: np.array(r.embedding)
        for r in standardize_embeddings(df).collect()
    }
    mu, sd = x.mean(axis=0), x.std(axis=0)
    want = (x - mu) / sd
    for i in range(len(x)):
        assert np.allclose(got[i], want[i], atol=1e-9), i
    # column invariants on the standardized output
    g = np.stack([got[i] for i in range(len(x))])
    assert np.allclose(g.mean(axis=0), 0.0, atol=1e-9)
    assert np.allclose(g.std(axis=0), 1.0, atol=1e-9)


def test_standardize_embeddings_constant_dim_is_zero_not_nan(spark):
    import numpy as np

    from sales_data_pipeline_spark.operators.similarity import (
        standardize_embeddings,
    )

    df = spark.createDataFrame(
        [(i, [3.0, float(i)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.embedding for r in standardize_embeddings(df).collect()
    }
    col0 = [v[0] for v in got.values()]
    assert all(np.isfinite(col0)) and max(abs(c) for c in col0) < 1e-6


# ---------------------------------------------------------------------------
# Distributed PCA (pca_fit / pca_project)
# ---------------------------------------------------------------------------


def test_pca_spectrum_matches_numpy(spark, emb):
    """The distributed Gram-reduction fit must reproduce numpy PCA on
    the collected data: same eigenvalues, same (sign-canonicalized)
    axes."""
    from sales_data_pipeline_spark.operators.similarity import pca_fit

    fit = pca_fit(emb)
    x = np.asarray([list(r.embedding) for r in emb.select("embedding").collect()],
                   dtype=np.float64)
    cov = np.cov(x, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    assert fit.n == len(x)
    np.testing.assert_allclose(fit.mean, x.mean(axis=0), rtol=0, atol=1e-9)
    np.testing.assert_allclose(fit.eigvals, np.maximum(w, 0.0), rtol=1e-8, atol=1e-9)
    got = np.asarray(fit.components)
    for j in range(5):  # leading axes have clear eigengaps; tail may rotate
        ref = v[:, j]
        top = int(np.argmax(np.abs(ref)))
        if ref[top] < 0:
            ref = -ref
        np.testing.assert_allclose(got[j], ref, rtol=0, atol=1e-6)


def test_pca_components_orthonormal(spark, emb):
    from sales_data_pipeline_spark.operators.similarity import pca_fit

    fit = pca_fit(emb)
    c = np.asarray(fit.components)
    np.testing.assert_allclose(c @ c.T, np.eye(len(c)), rtol=0, atol=1e-9)
    # total variance is conserved: sum of eigenvalues == trace of cov
    x = np.asarray([list(r.embedding) for r in emb.select("embedding").collect()],
                   dtype=np.float64)
    assert sum(fit.eigvals) == pytest.approx(
        np.cov(x, rowvar=False, ddof=1).trace(), rel=1e-9
    )


def test_pca_projection_variance_equals_eigenvalue(spark, emb):
    """Var of the j-th projected coordinate must equal eigval j, and
    distinct coordinates must be uncorrelated — the defining property
    of the principal basis, checked through the literal-baked
    projection path."""
    from sales_data_pipeline_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    fit = pca_fit(emb)
    proj = pca_project(emb, fit, k=3)
    p = np.asarray([list(r.pca) for r in proj.select("pca").collect()])
    for j in range(3):
        assert p[:, j].var(ddof=1) == pytest.approx(fit.eigvals[j], rel=1e-8)
        assert p[:, j].mean() == pytest.approx(0.0, abs=1e-9)
    assert np.cov(p[:, 0], p[:, 1], ddof=1)[0, 1] == pytest.approx(0.0, abs=1e-7)


def test_pca_fit_rejects_degenerate_input(spark):
    from sales_data_pipeline_spark.operators.similarity import pca_fit

    one = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least 2"):
        pca_fit(one)
    with pytest.raises(ValueError, match="empty"):
        pca_fit(one.filter("vec_id < 0"))


# --- hard_negative_topk --------------------------------------------------------


def test_hard_negative_topk_planted_semantics(spark):
    """Label filter drops same-label twins; the semi-hard ceiling drops
    near-identical other-label vectors; survivors rank by sim desc."""
    from sales_data_pipeline_spark.operators.similarity import hard_negative_topk

    rows = [
        (0, [1.0, 0.0, 0.0], 0),  # anchor
        (1, [1.0, 0.0, 0.0], 0),  # same label, sim 1.0 -> label-filtered
        (2, [0.999, 0.0447, 0.0], 1),  # other label, sim ~0.999 -> ceiling
        (3, [0.9, 0.4359, 0.0], 1),  # sim 0.9 -> rank 1
        (4, [0.7, 0.7141, 0.0], 2),  # sim 0.7 -> rank 2
        (5, [0.0, 1.0, 0.0], 1),  # sim 0.0 -> rank 3
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = corpus.filter("vec_id = 0")
    got = (
        hard_negative_topk(corpus, anchors, k=3, max_sim=0.98, n_salt=4)
        .orderBy("rank")
        .collect()
    )
    assert [(r.neg_id, r.rank) for r in got] == [(3, 1), (4, 2), (5, 3)]
    assert got[0].sim == pytest.approx(0.9, abs=1e-4)  # [0.9, 0.4359] ~unit


def test_hard_negative_topk_two_phase_equals_single_window(spark, emb):
    """The salted two-phase top-k must be bitwise-identical to the
    direct per-anchor window (n_salt=1 degenerates to it)."""
    from sales_data_pipeline_spark.operators.similarity import hard_negative_topk

    anchors = emb.filter(F.col("vec_id") < 8)
    salted = hard_negative_topk(emb, anchors, k=5, max_sim=0.45, n_salt=32)
    direct = hard_negative_topk(emb, anchors, k=5, max_sim=0.45, n_salt=1)
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) == 8 * 5


def test_hard_negative_topk_numpy_parity(spark, emb):
    """Exact parity with a numpy brute-force reference at the
    registered q292 parameters (round-9 sims, ties by neg_id)."""
    from sales_data_pipeline_spark.operators.similarity import hard_negative_topk

    data = emb.collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in data}
    labels = {r.vec_id: r.label for r in data}

    def seq_cos(a, b):  # mirror the engine's sequential left-fold
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (na**0.5 * nb**0.5)

    expected = set()
    for aid in [r.vec_id for r in data if r.vec_id < 8]:
        qv = vecs[aid]
        cands = []
        for nid, cv in vecs.items():
            if labels[nid] == labels[aid]:
                continue
            sim = round(seq_cos(qv, cv), 9)
            if sim < 0.45:
                cands.append((-sim, nid))
        for rank, (negsim, nid) in enumerate(sorted(cands)[:5], start=1):
            expected.add((aid, nid, -negsim, rank))
    anchors = emb.filter(F.col("vec_id") < 8)
    got = {
        (r.anchor_id, r.neg_id, r.sim, r.rank)
        for r in hard_negative_topk(
            emb, anchors, k=5, max_sim=0.45, n_salt=32
        ).collect()
    }
    assert got == expected
