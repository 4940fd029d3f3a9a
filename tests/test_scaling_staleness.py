"""Structural staleness gate for the scaling artifacts (r8 verdict
task 3): every entry in SCALING.json / SCALING10.json records the
fingerprint of the analyzed logical plan it TIMED (stamped at measure
time by tools/scaling.py). This test recomputes each query's current
fingerprint and fails on any drift — a rewritten plan can no longer
ship with a prior plan's cost curve (the r8 failure mode: q286's
Arrow-fold rows survived two artifacts after the fold was replaced by
a codegen aggregate, and q280/q283 carried superlinear flags measured
against an invalidated corpus). The same move that made bench
self-adjudicating in r6, applied to the scaling curve.

Re-measuring after a plan change: subset mode —
  SPARK_GRAFT_SCALE_QUERIES=<name,...> python tools/scaling.py measure
  SPARK_GRAFT_SCALE_QUERIES=<name,...> python tools/scaling.py measure10
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

ARTIFACTS = ("SCALING.json", "SCALING10.json")
# SKEW.json holds per-query rows under two regime sections (r10 —
# VERDICT r9 task 2: its zipf/boilerplate ratios describe specific plan
# bodies exactly like the scaling curves; q112's row went stale by
# hand-caught luck in r9)
SKEW_SECTIONS = ("boilerplate", "zipf")


def _entries():
    out = []
    for fname in ARTIFACTS:
        path = os.path.join(REPO, fname)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            doc = json.load(f)
        for name, entry in sorted(doc["queries"].items()):
            out.append((fname, name, entry))
    skew_path = os.path.join(REPO, "SKEW.json")
    if os.path.exists(skew_path):
        with open(skew_path) as f:
            doc = json.load(f)
        for section in SKEW_SECTIONS:
            for name, entry in sorted(doc[section]["queries"].items()):
                out.append((f"SKEW.json:{section}", name, entry))
    return out


def test_every_artifact_entry_carries_a_fingerprint():
    missing = [
        f"{fname}:{name}"
        for fname, name, entry in _entries()
        if not entry.get("plan_fp")
    ]
    assert not missing, (
        "scaling entries without plan_fp (measure with current "
        f"tools/scaling.py, or backfill via `fingerprint`): {missing}"
    )


def test_artifact_fingerprints_match_current_plans(spark):
    """One Spark pass over the union of measured queries: recompute
    each fingerprint once, then compare against every artifact entry.
    A mismatch means the registered plan changed after the entry was
    measured — the entry's curve describes a deleted program."""
    from scaling import _plan_fingerprint

    entries = _entries()
    current: dict[str, str] = {}
    for _, name, _e in entries:
        if name not in current:
            current[name] = _plan_fingerprint(spark, name)
    stale = [
        f"{fname}:{name} measured={entry.get('plan_fp')} current={current[name]}"
        for fname, name, entry in entries
        if entry.get("plan_fp") and entry["plan_fp"] != current[name]
    ]
    assert not stale, (
        "stale scaling entries (plan changed since measurement — "
        f"re-measure via subset mode): {stale}"
    )


def test_merge_preserves_fingerprints_of_untouched_entries():
    """Subset re-measure must not strip plan_fp from entries outside
    the subset (pure-merge contract), and must not relabel them: the
    fresh entry records the core count it was timed on, the untouched
    one keeps whatever it had."""
    from scaling import _merge_artifact

    prev = {
        "queries": {
            "qOld": {"sf1_sec": 1.0, "plan_fp": "aaa"},
        },
        "errors": {"sf1": {}, "sf10": {}},
    }
    queries, _errors = _merge_artifact(
        prev, ["qNew"], "sf1", "sf10",
        {"qNew": 1.0}, {"qNew": 2.0}, {"qNew": 5}, {"qNew": 50}, {}, {},
        "4",
    )
    assert queries["qOld"]["plan_fp"] == "aaa"
    # the fresh entry gets its fp stamped by the measure() caller, not
    # the pure merge — absent here by design
    assert "plan_fp" not in queries["qNew"]
    assert queries["qNew"]["cpus"] == "4"
    assert "cpus" not in queries["qOld"]


def test_skew_merge_preserves_fingerprints_of_untouched_entries():
    """SKEW subset re-measure must not strip plan_fp from rows outside
    the subset (same pure-merge contract as tools/scaling.py)."""
    from skew import _merge_subset

    prev = {
        "protocol": {"cpus": "32"},
        "boilerplate": {
            "queries": {"qOld": {"ratio": 1.0, "plan_fp": "aaa"}},
            "errors_boil": {},
        },
        "zipf": {
            "queries": {"qZ": {"ratio": 2.0, "plan_fp": "bbb"}},
        },
    }
    fresh = {
        "protocol": {"cpus": "4"},
        "boilerplate": {
            "queries": {"qNew": {"ratio": 1.5, "plan_fp": "ccc", "cpus": "4"}},
            "errors_boil": {},
        },
        "zipf": {"queries": {}},
    }
    merged = _merge_subset(prev, fresh, ["qNew"], [])
    assert merged["boilerplate"]["queries"]["qOld"]["plan_fp"] == "aaa"
    assert merged["boilerplate"]["queries"]["qNew"]["plan_fp"] == "ccc"
    assert merged["zipf"]["queries"]["qZ"]["plan_fp"] == "bbb"
    # the protocol block keeps describing the untouched rows; the fresh
    # row carries its own core count
    assert merged["protocol"] == {"cpus": "32"}
    assert merged["boilerplate"]["queries"]["qNew"]["cpus"] == "4"
    assert "cpus" not in merged["boilerplate"]["queries"]["qOld"]


def test_skew_ratio_rows_record_their_cpus():
    """Every freshly measured SKEW row names the core count it was
    timed on, so a subset merge under an older protocol block cannot
    mislabel it."""
    from skew import _ratios

    rows = _ratios({"qA": 2.0}, {"qA": 3.0}, "4")
    assert rows["qA"] == {
        "uniform_sec": 2.0, "skewed_sec": 3.0, "ratio": 1.5, "cpus": "4",
    }


@pytest.mark.parametrize("fname", ARTIFACTS)
def test_no_superlinear_entries_without_diagnosis(fname):
    """SCALING.md's headline claim ("zero superlinear" / diagnosed
    findings) must match the artifact of record: any superlinear entry
    must be named in SCALING.md — an undiagnosed flag is a finding,
    a silently-shipped one is a contradiction (the r8 blemish)."""
    path = os.path.join(REPO, fname)
    if not os.path.exists(path):
        pytest.skip(f"{fname} absent")
    with open(path) as f:
        doc = json.load(f)
    flagged = [n for n, e in doc["queries"].items() if e.get("superlinear")]
    if not flagged:
        return
    with open(os.path.join(REPO, "SCALING.md")) as f:
        md = f.read()
    undocumented = [n for n in flagged if n not in md]
    assert not undocumented, (
        f"{fname} has superlinear entries not diagnosed in SCALING.md: "
        f"{undocumented}"
    )


def test_skew_graph_consumer_rows_fingerprinted_or_marked():
    """r11 (VERDICT r10 task 3): SKEW's graph_consumers rows sat
    outside the staleness gate — probe rows measure OPERATOR bodies
    over campaign-temporary parquet (no registered query, no plan_fp
    recipe), and the triangles row deliberately times a body that does
    not ship (guard disabled). Every row must now carry a body_fp (a
    hash of the code of the operator it timed, docstrings and comments
    excluded, recomputed here — drift means the curve describes
    deleted code) and, when it measures an
    unguarded body, an explicit unguarded_probe marker so the artifact
    itself distinguishes diagnostic probes from current-plan rows."""
    from skew import CONSUMER_BODIES, UNGUARDED_PROBES, _body_fp

    path = os.path.join(REPO, "SKEW.json")
    if not os.path.exists(path):
        pytest.skip("SKEW.json absent")
    with open(path) as f:
        doc = json.load(f)
    sect = doc.get("graph_consumers")
    if not sect:
        pytest.skip("graph_consumers not measured yet")
    problems = []
    for op, entry in sorted(sect["ops"].items()):
        if op not in CONSUMER_BODIES:
            problems.append(f"{op}: probe not named in CONSUMER_BODIES")
            continue
        fp = entry.get("body_fp")
        if not fp:
            problems.append(f"{op}: no body_fp (re-run tools/skew.py graph)")
        elif fp != _body_fp(op):
            problems.append(
                f"{op}: body drifted (measured={fp} current={_body_fp(op)})"
            )
        if (op in UNGUARDED_PROBES) != bool(entry.get("unguarded_probe")):
            problems.append(
                f"{op}: unguarded_probe marker inconsistent with "
                f"UNGUARDED_PROBES"
            )
    # the shipped serve-past-the-fence path must be measured alongside
    # the diagnostic unguarded probe it supersedes
    assert "triangle_estimate" in sect["ops"], sect["ops"].keys()
    assert not problems, problems


def test_body_fp_ignores_docstrings_and_comments(tmp_path, monkeypatch):
    """The body stamp answers 'is the measured body still the code
    that ships?': rewording a docstring or a comment must leave it
    alone (the cc and triangle_estimate rows were flagged for exactly
    such edits), and any change to what runs must move it."""
    import importlib.util

    import skew
    from sales_data_pipeline_spark.operators import graph

    variants = {
        "base": '''
def probe(edges, k=2):
    """Doc."""
    out = edges.filter(edges.deg >= k)  # keep the core
    return out
''',
        "prose": '''
def probe(edges, k=2):
    """Doc, reworded, with an input contract paragraph.

    More prose."""
    # a new comment block
    out = edges.filter(edges.deg >= k)  # keep the k-core
    return out
''',
        "code": '''
def probe(edges, k=2):
    """Doc."""
    out = edges.filter(edges.deg > k)  # keep the core
    return out
''',
    }
    monkeypatch.setitem(skew.CONSUMER_BODIES, "probe_op", "fp_probe")
    fps = {}
    for key, src in variants.items():
        path = tmp_path / f"fp_probe_{key}.py"
        path.write_text(src)
        spec = importlib.util.spec_from_file_location(f"fp_probe_{key}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        monkeypatch.setattr(graph, "fp_probe", mod.probe, raising=False)
        fps[key] = skew._body_fp("probe_op")
    assert fps["base"] == fps["prose"]
    assert fps["base"] != fps["code"]


def test_plan_fingerprint_ignores_the_sessions_core_count(spark, monkeypatch):
    """operators/scale.spread_scan round-robins a thin scan to the
    session's defaultParallelism, so the same program analyzed under
    local[4] and local[32] differs only in that count. The fingerprint
    must ignore it (it is session state, not program) and still see a
    real program change."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from sales_data_pipeline_spark.plans import QUERIES
    from scaling import _plan_fingerprint

    def probe(n, filtered=False):
        def fn(spark, sf_dir):
            src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            df = src.repartition(n)
            return df.filter(F.col("o_orderkey") > 0) if filtered else df
        return SimpleNamespace(fn=fn)

    fps = {}
    for key, entry in {
        "p4": probe(4), "p32": probe(32), "p32f": probe(32, filtered=True),
    }.items():
        monkeypatch.setitem(QUERIES, "q_fp_probe", entry)
        fps[key] = _plan_fingerprint(spark, "q_fp_probe")
    assert fps["p4"] == fps["p32"]
    assert fps["p32"] != fps["p32f"]


def test_fingerprint_is_deterministic_within_a_session(spark):
    """PySpark names higher-order-function lambda variables from a
    process-global counter (x_1, x_2, ...), so an un-normalized
    analyzed-plan string differs depending on how many lambdas were
    created earlier in the session — the r9 finding that flagged 19
    entries 'stale' whose plans had not changed. The fingerprint must
    be invariant to constructions that happened before it."""
    from pyspark.sql import functions as F

    from scaling import _plan_fingerprint

    # q22 binds single-arg lambdas (transform/filter); q25 binds
    # two-arg ones (zip_with x_N/y_M, aggregate acc) — the counter is
    # shared across ALL variable names, so both must be pinned
    for name in ("q22_ngram_jaccard_pairs", "q25_ann_cosine_topk"):
        fp1 = _plan_fingerprint(spark, name)
        # burn a few lambda ids: a throwaway construction with HOFs
        spark.range(3).select(
            F.transform(F.array(F.lit(1)), lambda x: x + 1),
            F.zip_with(F.array(F.lit(1)), F.array(F.lit(2)), lambda a, b: a + b),
            F.filter(F.array(F.lit(2)), lambda x: x > 0),
        )
        fp2 = _plan_fingerprint(spark, name)
        assert fp1 == fp2, name
