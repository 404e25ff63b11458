"""Structured Streaming surface (SURVEY.md §2.9 / §3.3)."""

from feature_store_spark.streaming.pipeline import (  # noqa: F401
    EVENT_SCHEMA,
    band_join_stream,
    dispatch_events,
    read_event_stream,
    recompute_triggers,
    run_streaming_upsert_manifest,
    running_user_profile,
    session_windows_stream,
    velocity_windows_stream,
)
