"""Which program entry points the traced run wraps, and how the spans
reduce to per-layer metrics.

A layer is a module of the program. Its spans come from wrapping the
module's public functions where the pipeline calls them; two layers
have no function of their own to wrap and are placed by span order:
the ingest action (the cached fact read between building the union
plan and enriching it) and the sink (``DataFrameWriter.save`` on a mart
path).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import SPARK_COUNTERS, Tracer
from workloads import FAMILIES, QUERY_NAMES, Op

# span name -> layer (module) it belongs to, for self time
LAYER_OF = {
    "csv.header_probe": "csv",
    "normalize.validate": "normalize",
    "normalize.union_plan": "normalize",
    "fs.list": "fs",
    "fs.move": "fs",
    "state.probe": "state",
    "state.append": "state",
    "ingest.scan": "ingest",
    "enrich.plan": "enrich",
    "marts.plan": "marts",
    "lint": "lint",
    "sink.customer_mart": "sink",
    "sink.team_mart": "sink",
    "plans.build": "plans",
    "plans.exec": "plans",
}
LAYERS = sorted(set(LAYER_OF.values())) + ["unattributed"]
PER_FILE_LAYERS = ("csv", "normalize", "fs", "state")

# span name -> per-layer metric of its summed duration per operation
DURATIONS = {
    "csv.header_probe": "csv.header_probe_s",
    "normalize.validate": "normalize.validate_s",
    "normalize.union_plan": "normalize.union_plan_s",
    "fs.list": "fs.list_s",
    "fs.move": "fs.move_s",
    "state.probe": "state.probe_s",
    "state.append": "state.append_s",
    "ingest.scan": "ingest.scan_s",
    "enrich.plan": "enrich.plan_s",
    "marts.plan": "marts.plan_s",
    "lint": "lint.s",
    "sink.customer_mart": "sink.customer_mart_s",
    "sink.team_mart": "sink.team_mart_s",
}
# per-layer metric -> (span name, attribute); attribute None = span count
COUNTS = {
    "csv.header_probes": ("csv.header_probe", None),
    "normalize.header_groups": ("normalize.validate", "header_groups"),
    "normalize.quarantined": ("normalize.validate", "quarantined"),
    "fs.moves": ("fs.move", None),
    "state.log_files": ("op.run_pipeline", "log_files"),
    "ingest.rows": ("op.run_pipeline", "rows"),
    "sink.files_written": ("op.run_pipeline", "files_written"),
    "sink.partitions_written": ("op.run_pipeline", "partitions_written"),
    "sink.bytes_written": ("op.run_pipeline", "bytes_written"),
}


def _sink_name(writer, path=None, *args, **kwargs):
    path = path or kwargs.get("path") or ""
    if path.endswith("customers_data_mart"):
        return "sink.customer_mart"
    if path.endswith("sales_team_data_mart"):
        return "sink.team_mart"
    return None


def install(tracer: Tracer) -> None:
    """Wrap the pipeline's layer entry points for the traced run."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sales_data_pipeline_spark.pipeline import fs, sales_pipeline
    from sales_data_pipeline_spark.pipeline.state import AuditState
    from sales_data_pipeline_spark.plans import lint
    from sales_data_pipeline_spark.sources import csv

    tracer.patch(csv, "csv_header", "csv.header_probe",
                 lambda a, kw, out: {"header": ",".join(out)})
    tracer.patch(sales_pipeline, "validate_headers", "normalize.validate",
                 lambda a, kw, out: {"quarantined": len(out.quarantined)})
    tracer.patch(sales_pipeline, "read_validated_union", "normalize.union_plan")
    tracer.patch(fs, "list_files", "fs.list")
    tracer.patch(fs, "move_file", "fs.move")
    tracer.patch(AuditState, "stale_active_files", "state.probe")
    tracer.patch(AuditState, "mark_active", "state.append")
    tracer.patch(AuditState, "mark_inactive", "state.append")
    tracer.patch(sales_pipeline, "sales_enrichment", "enrich.plan")
    tracer.patch(sales_pipeline, "customer_monthly_mart", "marts.plan")
    tracer.patch(sales_pipeline, "sales_team_mart", "marts.plan")
    tracer.patch(lint, "lint_plan", "lint")
    tracer.patch(DataFrameWriter, "save", _sink_name)


def finish_op(tracer: Tracer, op: Op) -> None:
    """Spans placed by span order once an operation has ended."""
    if op.span is None:
        return
    op.span.attrs.update(op.attrs)
    tracer.add_gap_span(op.span, "ingest.scan", after="normalize.union_plan",
                        before="enrich.plan")
    for v in tracer.subtree(op.span):
        if v.name == "normalize.validate":
            v.attrs["header_groups"] = len({c.attrs["header"] for c in tracer.children(v)
                                            if c.name == "csv.header_probe"})


def reduce(tracer: Tracer, ops: list[Op], cores: int) -> tuple[dict, dict]:
    """(per-layer metrics, self-time report). Times and counts are means
    per operation; ``plans.*`` are medians per query."""
    n = len(ops)
    metrics: dict[str, float] = {}
    per_op = [tracer.subtree(o.span) for o in ops]
    for span_name, metric in DURATIONS.items():
        metrics[metric] = sum(s.dur for sub in per_op for s in sub if s.name == span_name) / n
    for metric, (span_name, attr) in COUNTS.items():
        hits = [s for sub in per_op for s in sub if s.name == span_name]
        metrics[metric] = (len(hits) if attr is None
                           else sum(s.attrs.get(attr, 0) for s in hits)) / n

    by_query: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for o, sub in zip(ops, per_op):
        q = o.attrs.get("query")
        if q is None:
            continue
        for s in sub:
            if s.name in ("plans.build", "plans.exec"):
                by_query[q][s.name.split(".")[1] + "_s"].append(s.dur)
        by_query[q]["shuffle_bytes"].append(tracer.spark_total(sub)["shuffle_write_bytes"])
        by_query[q]["wall_s"].append(o.wall_s)
    for q in QUERY_NAMES:
        for k in ("build_s", "exec_s", "shuffle_bytes"):
            vals = by_query[q][k]
            metrics[f"plans.{q}.{k}"] = statistics.median(vals) if vals else 0.0
    for fam, names in FAMILIES.items():
        metrics[f"plans.{fam}_suite_s"] = sum(
            statistics.median(by_query[q]["wall_s"]) if by_query[q]["wall_s"] else 0.0
            for q in names)

    spark = tracer.spark_total([s for sub in per_op for s in sub])
    wall = sum(o.wall_s for o in ops)
    for k in SPARK_COUNTERS:
        metrics[f"spark.{k}"] = spark[k] / n
    metrics["spark.core_busy"] = spark["executor_run_s"] / (wall * cores)

    self_s = defaultdict(float)
    for sub in per_op:
        for s in sub:
            self_s[LAYER_OF.get(s.name, "unattributed")] += tracer.self_time(s)
    for layer in LAYERS:
        metrics[f"self.{layer}_s"] = self_s[layer] / n
    metrics["trace.coverage"] = 1 - self_s["unattributed"] / wall
    metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s / n
    report = {
        "ops": n,
        "wall_s": wall,
        "self_s": dict(self_s),
        "self_share": {k: v / wall for k, v in self_s.items()},
        "per_file_share": sum(self_s[k] for k in PER_FILE_LAYERS) / wall,
        "coverage": metrics["trace.coverage"],
    }
    return metrics, report
