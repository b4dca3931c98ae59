"""Structured Streaming pipelines: file-source ETL with exactly-once
keyed upsert, watermarked windows, streaming dedup, sessionization, and
the observe/audit tap."""

from eventbridge_etl_spark.streaming.file_pipeline import (
    dedup_within_watermark,
    sessionize,
    start_csv_upsert_stream,
    windowed_counts,
)
from eventbridge_etl_spark.streaming.observe import (
    audit_union,
    with_observe,
)

__all__ = [
    "audit_union",
    "dedup_within_watermark",
    "sessionize",
    "start_csv_upsert_stream",
    "windowed_counts",
    "with_observe",
]
