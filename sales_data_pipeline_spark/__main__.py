"""Command-line driver: the runnable face of the engine library.

The reference is executed as a script (python src/main/transformations/
main.py, top-to-bottom side effects); here the same capability is an
explicit CLI over the library API, safe to invoke from cron/Airflow or
spark-submit:

  python -m sales_data_pipeline_spark pipeline --input-dir ... --output-dir ...
  python -m sales_data_pipeline_spark query q01_pricing_summary --sf-dir ...
  python -m sales_data_pipeline_spark list
  python -m sales_data_pipeline_spark lint q01_pricing_summary   # or --all
  python -m sales_data_pipeline_spark secret encrypt 'db-password'
  python -m sales_data_pipeline_spark replay --input-dir ... --output-dir ...
  python -m sales_data_pipeline_spark compact --table-dir ... --partition-cols k1,k2
  python -m sales_data_pipeline_spark export-shards --table-dir ... --out-dir ... --n-shards 64
  python -m sales_data_pipeline_spark verify-export --out-dir ...
  python -m sales_data_pipeline_spark backfill --table-dir ... --source-dir ... --partition-col day --values d1,d2

Dimension tables for the sales pipeline default to the seed frames the
tests use (tests/fixtures.py mirrors the reference's seeded MySQL dims);
point --dims-dir at parquet dims for real runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from sales_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _load_dims(spark, dims_dir: str | None):
    if dims_dir:
        return tuple(
            spark.read.parquet(f"{dims_dir}/{t}")
            for t in ("customer", "store", "sales_team")
        )
    try:
        from tests.fixtures import dim_frames
    except ImportError as ex:  # deployed without the test fixtures
        raise SystemExit(
            "--dims-dir is required outside the dev checkout "
            "(seed dims live in tests/fixtures.py)"
        ) from ex
    return dim_frames(spark)


def _cmd_pipeline(args) -> int:
    from sales_data_pipeline_spark.pipeline import (
        JdbcTopology,
        PipelineConfig,
        run_pipeline,
        run_pipeline_jdbc,
    )

    spark = _spark("sales-pipeline")
    cfg = PipelineConfig(
        input_dir=args.input_dir,
        quarantine_dir=args.quarantine_dir or f"{args.output_dir}/_quarantine",
        processed_dir=args.processed_dir or f"{args.output_dir}/_processed",
        output_dir=args.output_dir,
        state_dir=args.state_dir or f"{args.output_dir}/_state",
    )
    if args.jdbc_url:
        # the reference's deployment shape: dims from the database,
        # marts published back after the parquet commit
        props = (
            {"driver": args.jdbc_driver} if args.jdbc_driver else {}
        )
        res = run_pipeline_jdbc(
            spark, cfg, JdbcTopology(url=args.jdbc_url, properties=props)
        )
    else:
        customer, store, team = _load_dims(spark, args.dims_dir)
        res = run_pipeline(spark, cfg, customer, store, team)
    print(
        json.dumps(
            {
                "accepted": [p.rsplit("/", 1)[-1] for p in res.accepted_files],
                "quarantined": {
                    k.rsplit("/", 1)[-1]: v for k, v in res.quarantined_files.items()
                },
                "n_fact_rows": res.n_fact_rows,
                "customer_mart": res.customer_mart_path,
                "sales_team_mart": res.sales_team_mart_path,
            }
        )
    )
    return 0


def _cmd_query(args) -> int:
    from sales_data_pipeline_spark.plans import QUERIES

    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"query-{args.name}")
    df = QUERIES[args.name].fn(spark, args.sf_dir)
    df.show(args.rows, truncate=not args.wide)
    return 0


def _cmd_list(args) -> int:
    from sales_data_pipeline_spark.plans import QUERIES

    for name, q in sorted(QUERIES.items()):
        kind = "oracle" if q.oracle else "rows-only"
        head = " headline" if q.headline else ""
        print(f"{name}\t{kind}{head}")
    return 0



def _cmd_replay(args) -> int:
    """Re-validate quarantined inputs and requeue the fixed ones
    (pipeline.sales_pipeline.replay_quarantine)."""
    from sales_data_pipeline_spark.pipeline import PipelineConfig
    from sales_data_pipeline_spark.pipeline.sales_pipeline import (
        replay_quarantine,
    )

    spark = _spark("quarantine-replay")
    cfg = PipelineConfig(
        input_dir=args.input_dir,
        quarantine_dir=args.quarantine_dir or f"{args.output_dir}/_quarantine",
        processed_dir=args.processed_dir or f"{args.output_dir}/_processed",
        output_dir=args.output_dir,
        state_dir=args.state_dir or f"{args.output_dir}/_state",
    )
    print(json.dumps(replay_quarantine(spark, cfg)))
    return 0


def _cmd_secret(args) -> int:
    """Encrypt/decrypt config secrets (pipeline/secrets.py) — the
    runnable face of the reference's encrypt_decrypt.py utility, minus
    its hardcoded salt/IV (every token carries fresh random salt+nonce
    under AES-256-GCM). Reads the passphrase from $SECRET_PASSPHRASE or
    an interactive prompt, NEVER argv (process lists leak argv). The
    same argv-leak rationale applies to the VALUE being encrypted: pass
    ``-`` (or omit it) to read the plaintext/token from stdin — a value
    given on the command line is visible in process listings and shell
    history, so prefer ``printf '%s' "$secret" | ... secret encrypt -``."""
    import getpass
    import os

    from sales_data_pipeline_spark.pipeline.secrets import (
        decrypt_secret,
        encrypt_secret,
    )

    passphrase = os.environ.get("SECRET_PASSPHRASE") or getpass.getpass(
        "passphrase: "
    )
    value = args.value
    if value is None or value == "-":
        value = sys.stdin.readline().rstrip("\n")
        if not value:
            print("secret: empty value on stdin", file=sys.stderr)
            return 2
    try:
        if args.action == "encrypt":
            print(encrypt_secret(value, passphrase))
        else:
            print(decrypt_secret(value, passphrase))
    except ValueError as ex:
        print(f"secret: {ex}", file=sys.stderr)
        return 2
    return 0


def _cmd_lint(args) -> int:
    """Advisory physical-plan lint of one query or the whole catalog
    (plans/lint.py): exit 1 if any ERROR-severity finding exists, so a
    CI step can gate on `lint --all`."""
    from sales_data_pipeline_spark.plans import QUERIES
    from sales_data_pipeline_spark.plans.lint import lint_plan

    if not args.all and not args.name:
        print("lint: give a query name or --all", file=sys.stderr)
        return 2
    names = sorted(QUERIES) if args.all else [args.name]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown query {unknown[0]!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark("plan-lint")
    n_err = 0
    for name in names:
        findings = lint_plan(QUERIES[name].fn(spark, args.sf_dir))
        for f in findings:
            n_err += f.severity == "error"
            print(f"{name}\t{f.severity}\t{f.code}\t{f.message}")
        if not findings and not args.all:
            print(f"{name}\tclean")
    return 1 if n_err else 0


def _cmd_compact(args) -> int:
    from sales_data_pipeline_spark.pipeline.maintenance import compact_partitions

    spark = _spark("compact")
    rewritten = compact_partitions(
        spark,
        args.table_dir,
        partition_cols=args.partition_cols.split(","),
        max_files=args.max_files,
    )
    print(json.dumps({"rewritten_partitions": rewritten}))
    return 0


def _cmd_expire(args) -> int:
    from sales_data_pipeline_spark.pipeline.maintenance import expire_partitions

    spark = _spark("expire")
    gone = expire_partitions(
        spark,
        args.table_dir,
        partition_col=args.partition_col,
        cutoff=args.cutoff,
        dry_run=args.dry_run,
    )
    print(json.dumps({"dry_run": args.dry_run, "expired_partitions": gone}))
    return 0


def _cmd_mask_export(args) -> int:
    from sales_data_pipeline_spark.operators.redact import mask_columns

    spark = _spark("mask-export")
    policy_raw = json.loads(args.policy)
    # JSON has no tuples: ["bucket", 1000] arrives as a list
    policy = {
        k: tuple(v) if isinstance(v, list) else v
        for k, v in policy_raw.items()
    }
    df = spark.read.parquet(args.table_dir)
    out = mask_columns(df, policy)
    out.write.mode("overwrite").parquet(args.out_dir)
    print(json.dumps({"out_dir": args.out_dir, "columns": out.columns}))
    return 0


def _cmd_cdc_apply(args) -> int:
    from sales_data_pipeline_spark.operators.merge import apply_cdc_log

    spark = _spark("cdc-apply")
    base = spark.read.parquet(args.base_dir)
    log = spark.read.parquet(args.log_dir)
    out = apply_cdc_log(
        base,
        log,
        keys=args.keys.split(","),
        op_col=args.op_col,
        version_cols=tuple(args.version_cols.split(",")),
    )
    out.write.mode("overwrite").parquet(args.out_dir)
    n = spark.read.parquet(args.out_dir).count()
    print(json.dumps({"out_dir": args.out_dir, "n_rows": n}))
    return 0


def _cmd_export_shards(args) -> int:
    from sales_data_pipeline_spark.pipeline.export import write_training_shards

    spark = _spark("export-shards")
    df = spark.read.parquet(args.table_dir)
    man = write_training_shards(
        spark, df, args.out_dir, n_shards=args.n_shards, id_col=args.id_col
    )
    print(json.dumps({"out_dir": args.out_dir, "total_rows": man["total_rows"],
                      "n_shards": man["n_shards"]}))
    return 0


def _cmd_verify_export(args) -> int:
    from sales_data_pipeline_spark.pipeline.export import verify_export

    spark = _spark("verify-export")
    checks = verify_export(spark, args.out_dir).collect()
    bad = [r.shard for r in checks if not (r.rows_match and r.fp_match)]
    print(json.dumps({"n_shards": len(checks), "bad_shards": bad}))
    return 1 if bad else 0


def _cmd_backfill(args) -> int:
    from sales_data_pipeline_spark.pipeline.maintenance import backfill_partitions

    spark = _spark("backfill")
    values = args.values.split(",")

    def build(s, vals):
        df = s.read.parquet(args.source_dir)
        return df.filter(df[args.partition_col].isin(vals))

    counts = backfill_partitions(
        spark, build, args.table_dir, args.partition_col, values
    )
    print(json.dumps({"table_dir": args.table_dir, "replaced": counts}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sales_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("pipeline", help="run the batch sales ETL")
    sp.add_argument("--input-dir", required=True)
    sp.add_argument("--output-dir", required=True)
    sp.add_argument("--quarantine-dir")
    sp.add_argument("--processed-dir")
    sp.add_argument("--state-dir")
    sp.add_argument("--dims-dir")
    sp.add_argument(
        "--jdbc-url",
        help="database topology: read dims from and publish marts to this JDBC url",
    )
    sp.add_argument("--jdbc-driver", help="JDBC driver class for --jdbc-url")
    sp.set_defaults(fn=_cmd_pipeline)

    sq = sub.add_parser("query", help="run one catalog query and show rows")
    sq.add_argument("name")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--rows", type=int, default=20)
    sq.add_argument("--wide", action="store_true")
    sq.set_defaults(fn=_cmd_query)

    sl = sub.add_parser("list", help="list catalog queries")
    sl.set_defaults(fn=_cmd_list)

    slint = sub.add_parser(
        "lint", help="advisory physical-plan lint (scale anti-patterns)"
    )
    slint.add_argument("name", nargs="?", default=None)
    slint.add_argument("--all", action="store_true", help="lint every catalog query")
    slint.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    slint.set_defaults(fn=_cmd_lint)

    sr = sub.add_parser(
        "replay", help="re-validate quarantined inputs, requeue fixed files"
    )
    sr.add_argument("--input-dir", required=True)
    sr.add_argument("--output-dir", required=True)
    sr.add_argument("--quarantine-dir")
    sr.add_argument("--processed-dir")
    sr.add_argument("--state-dir")
    sr.set_defaults(fn=_cmd_replay)

    ss = sub.add_parser(
        "secret", help="encrypt/decrypt a config secret (AES-256-GCM)"
    )
    ss.add_argument("action", choices=["encrypt", "decrypt"])
    ss.add_argument(
        "value",
        nargs="?",
        default=None,
        help="plaintext (encrypt) or token (decrypt); '-' or omitted = "
        "read from stdin (argv leaks via process lists / shell history)",
    )
    ss.set_defaults(fn=_cmd_secret)

    sc = sub.add_parser("compact", help="compact small files in a partitioned table")
    sc.add_argument("--table-dir", required=True)
    sc.add_argument("--partition-cols", required=True, help="comma-separated")
    sc.add_argument("--max-files", type=int, default=8)
    sc.set_defaults(fn=_cmd_compact)

    sm = sub.add_parser(
        "mask-export", help="write a policy-masked copy of a parquet table"
    )
    sm.add_argument("--table-dir", required=True)
    sm.add_argument("--out-dir", required=True)
    sm.add_argument(
        "--policy",
        required=True,
        help='JSON: {"col": "keep|drop|null|hash" | ["bucket", w] | ["last", n]}',
    )
    sm.set_defaults(fn=_cmd_mask_export)

    sa = sub.add_parser(
        "cdc-apply", help="fold an I/U/D change log onto a snapshot (batch)"
    )
    sa.add_argument("--base-dir", required=True)
    sa.add_argument("--log-dir", required=True)
    sa.add_argument("--out-dir", required=True)
    sa.add_argument("--keys", required=True, help="comma-separated key columns")
    sa.add_argument("--op-col", default="op")
    sa.add_argument(
        "--version-cols", default="version", help="comma-separated, total order"
    )
    sa.set_defaults(fn=_cmd_cdc_apply)

    se = sub.add_parser("expire", help="drop partitions older than a cutoff")
    se.add_argument("--table-dir", required=True)
    se.add_argument("--partition-col", required=True)
    se.add_argument("--cutoff", required=True, help="partition values < cutoff are dropped")
    se.add_argument("--dry-run", action="store_true")
    se.set_defaults(fn=_cmd_expire)

    sx = sub.add_parser(
        "export-shards",
        help="publish a table as N deterministic training shards + manifest",
    )
    sx.add_argument("--table-dir", required=True)
    sx.add_argument("--out-dir", required=True)
    sx.add_argument("--n-shards", type=int, required=True)
    sx.add_argument("--id-col", default="doc_id")
    sx.set_defaults(fn=_cmd_export_shards)

    sv = sub.add_parser(
        "verify-export",
        help="re-derive shard counts/fingerprints and check the manifest",
    )
    sv.add_argument("--out-dir", required=True)
    sv.set_defaults(fn=_cmd_verify_export)

    sb = sub.add_parser(
        "backfill",
        help="replace only the named partitions from a corrected source",
    )
    sb.add_argument("--table-dir", required=True)
    sb.add_argument("--source-dir", required=True)
    sb.add_argument("--partition-col", required=True)
    sb.add_argument("--values", required=True, help="comma-separated partition values")
    sb.set_defaults(fn=_cmd_backfill)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
