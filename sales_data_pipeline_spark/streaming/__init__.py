"""Structured Streaming surface.

The reference has no streaming operators (SURVEY §2i) — its
"streaming-ness" is batch re-runs + a MySQL staging-table A/I state
machine (reference: main.py:51-75, 196-225, 429-448) and an S3 folder
lifecycle. This package is the idiomatic-Spark replacement (SURVEY §7
M7): a checkpointed file-source stream gives exactly-once file pickup
(subsuming the staging table), and applyInPandasWithState hosts the
per-key debounce.
"""
