"""Sinks (SURVEY.md §2.1 S2/S3/S8/S9/S10): a latency-marking
foreachBatch sink, the incremental-MV and idempotent parquet sinks, and
gated Kafka IO. Console/noop/memory/parquet writers are
``streaming.ysb.start_query(sdf, fmt=...)``."""
