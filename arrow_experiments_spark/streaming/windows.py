"""Structured Streaming analogs of the batch event-window operators
(SURVEY.md §2.6 Streaming row, §7 Phase 5).

The reference's serving model — pre-materialized batches replayed through
a fresh IPC writer per request (get_simple server.py:94-144) — maps onto
micro-batches: each ``foreachBatch`` invocation serves one batch of
results through the same egress used for static DataFrames.

These builders take any streaming DataFrame with the events schema
(ts timestamp, user_id long, event_type string, value double), so tests
can drive them from a rate source or ``spark.readStream.format("parquet")``
over the testdata directory.  The transformations are IDENTICAL to the
batch operators in operators/events.py — that is the point: one logical
plan, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window count/sum with late-data drop via watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select("w.start", "w.end", "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "n_events")
    )


def session_counts(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-based) per user — stateful streaming aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("w.start", "w.end", "user_id", "n_events")
    )


def dedup_within_watermark(
    events: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    within the watermark horizon (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
