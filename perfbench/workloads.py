"""The workloads: each prepares seeded inputs, warms up, runs its timed
closed loop (one client, next operation after the previous one
completes), checks every output, and reduces what it measured.

An operation is one ``run_pipeline`` call (``etl_incremental``) or one
catalog query built and executed to a no-op sink (``query_mix``).
"""

from __future__ import annotations

import gc
import hashlib
import os
import pickle
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from spans import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
FAMILIES = {
    "sales": (
        "q02_customer_monthly_mart",
        "q03_team_incentive_mart",
        "q04_star_enrichment",
    ),
    "curation": (
        "q22_ngram_jaccard_pairs",
        "q23_minhash_lsh_pairs",
        "q250_name_edit_neardup",
    ),
}
QUERY_NAMES = FAMILIES["sales"] + FAMILIES["curation"]
WARMUP_DROPS = 2
# operations (query_mix: passes) a run measures however long they take,
# so that every median has one value on each side of it
MIN_SAMPLES = 3
LSH_QUERY, LSH_EXACT, LSH_THRESHOLD = "q23_minhash_lsh_pairs", "q22_ngram_jaccard_pairs", 0.6


@dataclass
class Op:
    """One timed operation."""

    label: str
    wall_s: float
    written: int
    ok: bool
    input_bytes: int = 0
    span: Span | None = None
    attrs: dict = field(default_factory=dict)


class Context:
    """What a workload's timed loop needs: the session, the process
    counters, and the tracer when the run is traced."""

    def __init__(self, spark, procs, tracer: Tracer | None, seconds: int):
        self.spark = spark
        self.procs = procs
        self.tracer = tracer
        self.seconds = seconds

    def timed(self, label: str, fn, **attrs) -> tuple[Op, object]:
        """Run ``fn`` as one operation; an exception fails it."""
        w0 = self.procs.written_bytes()
        span, result, ok = None, None, True
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                result = fn()
            else:
                with self.tracer.span(f"op.{label}", **attrs) as span:
                    result = fn()
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        op = Op(label, wall, self.procs.written_bytes() - w0, ok, span=span, attrs=dict(attrs))
        return op, result


def _fail(op: Op, problems: list[str]) -> None:
    if problems:
        op.ok = False
        for p in problems:
            print(f"check failed [{op.label}]: {p}", file=sys.stderr)


def _part_files(d: str) -> dict[str, int]:
    """Data files under a mart tree → size."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Etl:
    """``etl_incremental``: successive monthly drops of small per-store
    files into one state directory and one output tree, so the audit
    log and the mart tree grow drop after drop. The first
    ``WARMUP_DROPS`` drops are the warm-up (the JVM is still compiling
    the pipeline's hot paths during the first); the timed loop
    publishes the next ones."""

    name = "etl_incremental"

    def __init__(self, work: str, seed: int, size: gen.EtlSize):
        self.work, self.seed, self.size = work, seed, size

    def prepare(self) -> None:
        self.inputs = os.path.join(self.work, "inputs")
        self.batches = gen.generate(self.inputs, self.seed, self.size)

    def input_size(self) -> dict:
        return {
            "rows_per_drop": self.batches[0].rows,
            "files_per_drop": len(self.batches[0].files),
            "csv_bytes_per_drop": self.batches[0].input_bytes,
            "drops_published": len(self.published),
            "customers": self.size.customers,
            "stores": self.size.stores,
        }

    def _land(self, batch: gen.Batch) -> None:
        """Land a drop's files in the input dir (the producer's part)."""
        os.makedirs(self.dirs["input"], exist_ok=True)
        for f in batch.files:
            os.link(os.path.join(self.inputs, batch.name, f["name"]),
                    os.path.join(self.dirs["input"], f["name"]))
        self.published.append(batch)

    def warmup(self, spark) -> None:
        from sales_data_pipeline_spark.pipeline.sales_pipeline import (
            PipelineConfig,
            run_pipeline,
        )

        d = os.path.join(self.inputs, "dims")
        self.dims = [spark.read.parquet(os.path.join(d, f"{t}.parquet"))
                     for t in ("customer", "store", "sales_team")]
        root = os.path.join(self.work, "lake")
        self.dirs = {k: os.path.join(root, k)
                     for k in ("input", "quarantine", "processed", "output", "state")}
        self.cfg = PipelineConfig(
            input_dir=self.dirs["input"], quarantine_dir=self.dirs["quarantine"],
            processed_dir=self.dirs["processed"], output_dir=self.dirs["output"],
            state_dir=self.dirs["state"],
        )
        self.published: list[gen.Batch] = []
        self.warmup_problems = []
        for b in self.batches[:WARMUP_DROPS]:
            self._land(b)
            self.warmup_problems += checks.check_etl_call(
                run_pipeline(spark, self.cfg, *self.dims), b, self.published, self.dirs)

    def measure(self, ctx: Context) -> list[Op]:
        from sales_data_pipeline_spark.pipeline.sales_pipeline import run_pipeline

        ops: list[Op] = []
        deadline = time.perf_counter() + ctx.seconds
        for b in self.batches[WARMUP_DROPS:]:
            if len(ops) >= MIN_SAMPLES and time.perf_counter() >= deadline:
                break
            self._land(b)
            before = _part_files(self.dirs["output"]) if ctx.tracer else {}
            op, result = ctx.timed("run_pipeline",
                                   lambda: run_pipeline(ctx.spark, self.cfg, *self.dims),
                                   batch=b.name)
            op.input_bytes = b.input_bytes
            if op.ok:
                _fail(op, self.warmup_problems
                      + checks.check_etl_call(result, b, self.published, self.dirs))
            if ctx.tracer:
                created = {p: n for p, n in _part_files(self.dirs["output"]).items()
                           if p not in before}
                op.attrs.update(
                    files_written=len(created),
                    partitions_written=len({os.path.dirname(p) for p in created
                                            if "sales_month=" in p}),
                    bytes_written=sum(created.values()),
                    log_files=sum(1 for f in os.listdir(self.dirs["state"])
                                  if f.endswith(".parquet")),
                    rows=result.n_fact_rows if result else 0,
                )
            ops.append(op)
        return ops

    def latency(self, ops: list[Op]) -> tuple[float, float]:
        """(median call time, bytes written per input byte)."""
        return (statistics.median(o.wall_s for o in ops),
                sum(o.written for o in ops) / sum(o.input_bytes for o in ops))


def _data_digest(d: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


class QueryMix:
    """``query_mix``: passes over a seeded permutation of the sales and
    curation queries on a fixed dataset; the seed drives only the order."""

    name = "query_mix"

    def __init__(self, work: str, seed: int, cache: str):
        self.work, self.seed, self.cache = work, seed, cache
        self.rng = np.random.Generator(np.random.PCG64(seed))

    def input_size(self) -> dict:
        return {"queries": len(QUERY_NAMES), "data": "sf0.01",
                "parquet_bytes": self.data_bytes}

    def prepare(self) -> None:
        """Oracle results, computed with DuckDB once per dataset and kept
        in ``cache`` (files this benchmark wrote itself)."""
        from sales_data_pipeline_spark.plans import QUERIES
        from sales_data_pipeline_spark.testing import duckdb_oracle

        self.data_bytes = sum(os.path.getsize(os.path.join(DATA_DIR, f))
                              for f in os.listdir(DATA_DIR))
        d = os.path.join(self.cache, _data_digest(DATA_DIR))
        os.makedirs(d, exist_ok=True)
        self.oracle = {}
        for q in QUERY_NAMES:
            sql = QUERIES[q].oracle
            if sql is None:
                continue
            p = os.path.join(d, f"{q}.pkl")
            if not os.path.exists(p):
                duckdb_oracle(DATA_DIR, sql).to_pickle(p + ".tmp")
                os.replace(p + ".tmp", p)
            with open(p, "rb") as f:
                self.oracle[q] = pickle.load(f)

    def _order(self) -> list[str]:
        return [QUERY_NAMES[i] for i in self.rng.permutation(len(QUERY_NAMES))]

    def warmup(self, spark) -> None:
        """A cold pass that collects every result, for the checks."""
        from sales_data_pipeline_spark.plans import QUERIES

        self.results = {}
        for q in self._order():
            spark.catalog.clearCache()
            self.results[q] = QUERIES[q].fn(spark, DATA_DIR).toPandas()
        spark.catalog.clearCache()

    def check(self) -> dict[str, list[str]]:
        out = {}
        for q, got in self.results.items():
            if q == LSH_QUERY:
                out[q] = checks.check_lsh_pairs(got, self.oracle[LSH_EXACT], LSH_THRESHOLD)
            else:
                out[q] = checks.check_query(got, self.oracle[q])
        return out

    def measure(self, ctx: Context) -> list[Op]:
        from sales_data_pipeline_spark.plans import QUERIES

        problems = self.check()
        ops: list[Op] = []
        deadline = time.perf_counter() + ctx.seconds
        passes = 0
        while passes < MIN_SAMPLES or time.perf_counter() < deadline:
            passes += 1
            for q in self._order():
                ctx.spark.catalog.clearCache()
                op, _ = ctx.timed("query", lambda: self._run(ctx, QUERIES[q]), query=q)
                op.input_bytes = self.data_bytes
                _fail(op, problems[q])
                ops.append(op)
            gc.collect()
            ctx.spark.sparkContext._jvm.System.gc()
        ctx.spark.catalog.clearCache()
        print("perfbench: per-query seconds " + ", ".join(
            f"{q.split('_')[0]} " + "/".join(f"{o.wall_s:.2f}" for o in ops
                                             if o.attrs["query"] == q)
            for q in QUERY_NAMES), file=sys.stderr)
        return ops

    @staticmethod
    def _run(ctx: Context, q) -> None:
        if ctx.tracer is None:
            q.fn(ctx.spark, DATA_DIR).write.format("noop").mode("overwrite").save()
            return
        with ctx.tracer.span("plans.build", query=q.name):
            df = q.fn(ctx.spark, DATA_DIR)
        with ctx.tracer.span("plans.exec", query=q.name):
            df.write.format("noop").mode("overwrite").save()

    def latency(self, ops: list[Op]) -> tuple[float, float]:
        """Per-query medians summed over the mix: (pass time, bytes
        written per pass per byte of the dataset)."""
        med = lambda key: sum(  # noqa: E731
            statistics.median(getattr(o, key) for o in ops if o.attrs["query"] == q)
            for q in QUERY_NAMES)
        return med("wall_s"), med("written") / self.data_bytes
