"""Structured Streaming half of the engine: streaming YSB query builders,
watermark/trigger/output-mode policy (SURVEY.md §2.7), the one bounded
drain core and its run helpers, stateful operators, and per-batch
statistics (M6)."""
