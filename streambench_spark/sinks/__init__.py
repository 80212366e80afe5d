"""Sinks (SURVEY.md §2.1 S8/S9/S10): a latency-marking foreachBatch
sink, the incremental-MV and idempotent parquet sinks, and compaction.
Console/noop/memory/parquet writers are
``streaming.ysb.start_query(sdf, fmt=...)``. The Kafka sinks (S2/S3)
are not built (no broker or jar on this system)."""
