"""The end-to-end sales ETL — the reference's main.py, Spark-first.

Stage order preserves the reference's failure-aware semantics
(SURVEY §2j.9): quarantine precedes any state write; archive + status
flip happen only after both marts commit. The audit log decides what a
run owns: a file still 'A' from a crashed run is read again from
wherever the crash left it (``input_dir``, or ``processed_dir`` when
the archive move had already happened), so the republished marts hold
its rows, and it is archived (if not yet) and flipped to 'I'.

Deliberate physical upgrades over the reference (SURVEY §4 anti-patterns):
- the enriched frame is cached once and feeds every sink (the reference
  recomputes CSV scans + 3 joins per action, main.py:271-398): the
  first mart write scans the CSVs, broadcasts the dimensions and fills
  the cache, the second reads the cache; the fact row counts come from
  an observe node below the joins on that same first write, so no count
  job runs;
- accepted files are read once, grouped by header, with the explicit
  contract schema (no inferSchema double pass, main.py:145-147+249-252);
- no local-disk staging hop: inputs are read where they land
  (local/s3a/hdfs alike via the Hadoop FS API).

There is one code path: extra CSV columns fold into a JSON
``additional_column``, both marts are built with groupBy, their plans
are linted before any write (an error-severity finding refuses the
publish), and both marts land as parquet.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_pipeline_spark.operators import enrich
from sales_data_pipeline_spark.operators.marts import (
    customer_monthly_mart,
    sales_team_mart,
)
from sales_data_pipeline_spark.operators.normalize import (
    read_validated_union,
    validate_headers,
)
from sales_data_pipeline_spark.pipeline import fs
from sales_data_pipeline_spark.pipeline.logutil import get_logger
from sales_data_pipeline_spark.pipeline.state import AuditState
from sales_data_pipeline_spark.schemas import MANDATORY_COLUMNS, SALES_CONTRACT

# run-stage log (reference wires a logger through every transform,
# logging_config.py:1-4; silent unless the run opts in via
# logutil.configure_pipeline_logging)
log = get_logger(__name__)


@dataclass(frozen=True)
class PipelineConfig:
    input_dir: str
    quarantine_dir: str
    processed_dir: str
    output_dir: str
    state_dir: str


@dataclass
class PipelineResult:
    accepted_files: list[str] = field(default_factory=list)
    quarantined_files: dict[str, list[str]] = field(default_factory=dict)
    resumed_files: list[str] = field(default_factory=list)
    n_fact_rows: int = 0
    customer_mart_path: str = ""
    sales_team_mart_path: str = ""
    # observe() metrics of the fact rows before the dimension joins,
    # captured by the first mart write (no extra scan): n_rows,
    # n_null_cost, sum_cost — the run-report numbers an operator reads
    # before trusting a publish
    ingest_metrics: dict = field(default_factory=dict)


def _lint_mart_plans(**marts: DataFrame) -> None:
    """Runtime face of the plan linter (plans/lint.py): warn-log every
    finding and raise on error-severity ones (cartesian product,
    row-at-a-time Python UDF) BEFORE any sink action runs, so a
    scale-killer plan never publishes."""
    from sales_data_pipeline_spark.plans.lint import lint_plan

    errors: list[str] = []
    for name, df in marts.items():
        for f in lint_plan(df):
            log.warning("plan lint [%s] %s/%s: %s", f.severity, name, f.code, f.message)
            if f.severity == "error":
                errors.append(f"{name}: {f.code} — {f.message}")
    if errors:
        raise RuntimeError(
            "plan lint failed; refusing to publish marts:\n  "
            + "\n  ".join(errors)
        )


def sales_enrichment(
    fact: DataFrame, customer: DataFrame, store: DataFrame, sales_team: DataFrame
) -> DataFrame:
    """The frame every sink reads: ``operators.enrich.sales_enrichment``
    (broadcast star joins, rename-before-join), cached. ``.cache()``
    plans the joins, so that planning happens inside this call, the one
    a traced run (perfbench/layers.py) counts as enrichment."""
    return enrich.sales_enrichment(fact, customer, store, sales_team).cache()


def _observed(df: DataFrame, name: str) -> dict:
    """Metrics of the ``observe(name, ...)`` node in ``df``'s plan, read
    off the cached plan once an action has filled ``df``'s cache. (An
    Observation reads them off the action's own plan, and AQE drops the
    cache scan from that plan when the cached frame is empty: every row
    lost to the joins, or only header-only files.)"""
    row = df._jdf.queryExecution().observedMetrics().get(name).get()
    return {f: row.get(i) for i, f in enumerate(row.schema().fieldNames())}


def _archived_stale(
    spark: SparkSession, cfg: PipelineConfig, stale: list[str], discovered: list[str]
) -> list[str]:
    """Stale-active files a crash left already archived: the ones no
    longer in ``input_dir`` but present in ``processed_dir``."""
    present = {p.rsplit("/", 1)[-1] for p in discovered}
    names = sorted({p.rsplit("/", 1)[-1] for p in stale} - present)
    return [p for p in (f"{cfg.processed_dir}/{n}" for n in names) if fs.path_exists(spark, p)]


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    customer: DataFrame,
    store: DataFrame,
    sales_team: DataFrame,
) -> PipelineResult:
    result = PipelineResult()
    state = AuditState(spark, cfg.state_dir)

    # 1. failed-run probe: files activated by a crashed run are picked up
    #    again (reference: main.py:56-73)
    result.resumed_files = state.stale_active_files()
    if result.resumed_files:
        log.warning(
            "failed-run probe: %d stale-active file(s) from a crashed "
            "run will be resumed: %s",
            len(result.resumed_files), result.resumed_files,
        )

    # 2. discovery (replaces boto3 list+download, aws_read.py:7-23), plus
    #    the stale files a crash between archive moves already archived
    discovered = fs.list_files(spark, cfg.input_dir, suffix=".csv")
    log.info("discovered %d input file(s) in %s", len(discovered), cfg.input_dir)
    archived = _archived_stale(spark, cfg, result.resumed_files, discovered)
    if not discovered and not archived:
        return result

    # 3. file-level contract validation; rejects quarantined before any
    #    state write (reference ordering, main.py:142-188)
    report = validate_headers(spark, discovered + archived, MANDATORY_COLUMNS)
    for path, missing in report.quarantined.items():
        log.warning("quarantining %s (missing columns: %s)", path, missing)
        fs.move_file(spark, path, cfg.quarantine_dir)
    result.quarantined_files = dict(report.quarantined)
    if not report.valid:
        return result

    # 4. audit trail: accepted files become status 'A' (main.py:196-225)
    result.accepted_files = report.valid_paths
    log.info("accepted %d file(s); marking active", len(result.accepted_files))
    state.mark_active(result.accepted_files)

    # 5. single-pass read + normalize + union. The observe node sits on
    #    the fact, below the joins, so it counts the rows as ingested;
    #    its metrics ride the first mart write (the reference eyeballed
    #    .show() instead, main.py:271).
    fact = read_validated_union(spark, report, SALES_CONTRACT).observe(
        "fact_ingest",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("total_cost").isNull(), 1).otherwise(0)).alias("n_null_cost"),
        F.sum(F.col("total_cost")).alias("sum_cost"),
    )

    # 6. enrichment (broadcast star joins, rename-before-join), cached:
    #    both marts read it, so the dimensions broadcast once. The cache
    #    is released however the publish ends.
    enriched = sales_enrichment(fact, customer, store, sales_team)
    try:
        # 7. marts → parquet. The sales-team mart is partitioned by
        #    (sales_month, store_id) exactly like the reference's final
        #    write (main.py:363-368); dynamic partition overwrite keeps
        #    re-runs idempotent per partition instead of append-duplicating
        #    (SURVEY §2j.7).
        cust_mart = customer_monthly_mart(enriched)
        team_mart = sales_team_mart(enriched)
        # lint BOTH plans before EITHER write: a lint failure must leave
        # zero marts published, not one (half-published is the worst state)
        _lint_mart_plans(customers_data_mart=cust_mart, sales_team_data_mart=team_mart)
        result.customer_mart_path = f"{cfg.output_dir}/customers_data_mart"
        cust_mart.write.mode("overwrite").format("parquet").save(result.customer_mart_path)
        result.ingest_metrics = _observed(enriched, "fact_ingest")
        result.n_fact_rows = result.ingest_metrics["n_rows"]
        log.info("ingested %d fact rows; metrics=%s", result.n_fact_rows, result.ingest_metrics)
        result.sales_team_mart_path = f"{cfg.output_dir}/sales_team_data_mart"
        team_mart.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("sales_month", "store_id").format("parquet").save(
            result.sales_team_mart_path
        )
    finally:
        enriched.unpersist()
    log.info(
        "marts committed: %s, %s",
        result.customer_mart_path, result.sales_team_mart_path,
    )

    # 8. post-commit: archive inputs, flip state to 'I' (main.py:403-448)
    for path in result.accepted_files:
        if path not in archived:
            fs.move_file(spark, path, cfg.processed_dir)
    state.mark_inactive(result.accepted_files)
    log.info("archived %d file(s); state flipped to inactive", len(result.accepted_files))
    return result


@dataclass(frozen=True)
class JdbcTopology:
    """The reference's actual deployment shape: dimension tables live in
    an RDBMS and both marts are published back to it (reference
    src/main/transformations/main.py:284-307 reads customer/store/
    sales_team from MySQL; :390-398 writes the two marts back via JDBC,
    in addition to the parquet copies)."""

    url: str
    properties: dict[str, str] = field(default_factory=dict)
    customer_table: str = "customer"
    store_table: str = "store"
    sales_team_table: str = "sales_team"
    customer_mart_table: str = "customers_data_mart"
    sales_team_mart_table: str = "sales_team_data_mart"


def run_pipeline_jdbc(
    spark: SparkSession, cfg: PipelineConfig, topo: JdbcTopology
) -> PipelineResult:
    """run_pipeline with the reference's database topology: the three
    dimension frames come from JDBC tables and, after the parquet marts
    commit, both marts are ALSO published to JDBC (idempotent overwrite,
    not the reference's blind append). The JDBC mart write happens after
    the parquet commit + archive/state flip, mirroring the reference's
    stage order (parquet write main.py:363-368 precedes the JDBC write
    :390-398): a JDBC failure leaves a consistent lake copy and the
    re-run republishes from it. Dims are tiny (bounded) — a
    single-partition pull each is the right plan; large dims would pass
    range-partition bounds through read_jdbc."""
    from sales_data_pipeline_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc_atomic,
    )

    dims = [
        read_jdbc(spark, topo.url, t, properties=topo.properties)
        for t in (topo.customer_table, topo.store_table, topo.sales_team_table)
    ]
    result = run_pipeline(spark, cfg, *dims)
    if result.customer_mart_path:
        for path, table in (
            (result.customer_mart_path, topo.customer_mart_table),
            (result.sales_team_mart_path, topo.sales_team_mart_table),
        ):
            # staging-swap publish: readers of the DB marts never see
            # a dropped/half-loaded table during the reload (plain
            # overwrite = drop-then-load; sources/jdbc.py
            # write_jdbc_atomic docstring has the crash analysis)
            write_jdbc_atomic(
                spark,
                spark.read.parquet(path),
                topo.url,
                table,
                properties=topo.properties,
            )
    return result


def replay_quarantine(spark: SparkSession, cfg: PipelineConfig) -> dict[str, list[str]]:
    """Recovery path for quarantined inputs — the loop the reference
    lacks entirely (its error folder is a dead end, move_files.py:26-62
    moves files in and nothing ever looks again). After the producer
    fixes a file in place (or the contract is relaxed), replaying
    RE-VALIDATES every quarantined file against the current mandatory
    columns: passes move back to ``input_dir`` for the next
    run_pipeline to ingest through the normal audit path; failures
    stay quarantined with their (possibly new) missing-column sets.

    Returns {"requeued": [...], "still_bad": [...]}; file names only,
    mirroring PipelineResult's reporting. Validation is header-probe
    cheap (one-line read per file); no state is written here — the
    requeued file earns its audit 'A' row from the pipeline run that
    ingests it, keeping a single writer for the state log."""
    out: dict[str, list[str]] = {"requeued": [], "still_bad": []}
    quarantined = fs.list_files(spark, cfg.quarantine_dir, suffix=".csv")
    if not quarantined:
        return out
    report = validate_headers(spark, quarantined, MANDATORY_COLUMNS)
    for path in report.valid_paths:
        fs.move_file(spark, path, cfg.input_dir)
        out["requeued"].append(path.rsplit("/", 1)[-1])
        log.info("replay: requeued %s", path)
    for path, missing in report.quarantined.items():
        out["still_bad"].append(path.rsplit("/", 1)[-1])
        log.info("replay: %s still missing %s", path, missing)
    return out
