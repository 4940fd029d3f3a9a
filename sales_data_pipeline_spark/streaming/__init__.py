"""Per-key debounce (``ratelimit``), the operator behind q286.

The reference has no streaming operators (SURVEY §2i); its batch
re-runs and staging-table state machine map onto ``run_pipeline``.
"""
