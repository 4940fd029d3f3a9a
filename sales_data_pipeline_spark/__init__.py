"""sales_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference batch-ETL pipeline
(mehak-sood/Sales_data_pipeline), re-expressed idiomatically on the
PySpark DataFrame/SQL API so Catalyst + Tungsten own the physical plan:

- ``session``   — SparkSession factory with scale-aware defaults (AQE,
  Arrow, adaptive shuffle sizing).
- ``catalog``   — typed table registry over parquet star-schema data.
- ``sources``   — contract-validated CSV and JDBC readers.
- ``operators`` — normalize (schema contract + extras folding), enrich
  (broadcast star joins), marts (group-sum + rank/incentive), dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity (cosine
  top-k, IVF, SRP-LSH near-dup), text (lang-id, quality, tokens, fingerprint),
  multimodal (binary columns + Arrow-batched UDF plumbing), windows
  (top-k per group, sessionize).
- ``plans``     — the query catalog exposed to the driver via
  ``__spark_entry__`` (each query paired with an ANSI-SQL oracle).
- ``streaming`` — per-key debounce (q286).
- ``pipeline``  — the end-to-end sales ETL (validate → normalize →
  enrich → marts → sinks) with an idempotent audit state machine.

Everything is DataFrame-declarative; Python UDFs appear only as
Arrow-batched pandas UDFs where built-ins genuinely cannot express the
semantics (multimodal decode plumbing).
"""

__version__ = "0.1.0"
