"""Structured Streaming variants of the hourly aggregations.

The reference is strictly batch (SURVEY.md §2.10) — its "incremental" mode
is a daily full re-run.  These operators make the hourly fact feed a true
stream: tumbling-window rollups with watermarked late-data handling, and
streaming dedup keyed on event identity.
"""

from .alerts import threshold_alert_stream
from .hourly import dedup_stream, hourly_rollup_stream, read_event_stream
from .funnel import funnel_stream
from .joins import enriched_rollup_stream, interval_join_stream
from .sessions import sessionize_stream
from .sink import (
    stream_to_parquet,
    stream_to_parquet_batches,
    stream_upsert_rollup,
    upsert_batch_writer,
)

__all__ = [
    "read_event_stream",
    "hourly_rollup_stream",
    "dedup_stream",
    "sessionize_stream",
    "funnel_stream",
    "threshold_alert_stream",
    "enriched_rollup_stream",
    "interval_join_stream",
    "stream_to_parquet",
    "stream_to_parquet_batches",
    "stream_upsert_rollup",
    "upsert_batch_writer",
]
