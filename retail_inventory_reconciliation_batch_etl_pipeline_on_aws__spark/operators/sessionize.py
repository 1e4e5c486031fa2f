"""Event-stream batch operators: windowed rollups and sessionization.

The reference has no streaming surface (SURVEY.md SS2.9); these are
batch operators over the events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type.

    ``F.window`` is Spark's native tumbling bucket; emitting the window
    *start* matches DuckDB's ``time_bucket(INTERVAL '1 hour', ts)``.
    """
    return (
        events.groupBy(
            F.window("ts", "1 hour").start.alias("bucket_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            # decimal accumulation: exact, order-independent -> identical
            # across engines (double sums are reduction-order dependent)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``.

    Classic two-window form: lag(ts) -> new-session flag -> running sum
    assigns session ids; then a group-by rolls sessions up. Shuffles
    once on user_id (both windows share the partitioning).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "_new_session",
        (
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long"), 1, 0).over(w)
            > gap_minutes * 60
        ).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def sliding_rollup(
    events: DataFrame, duration: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding event-time windows per event_type -- the smoothing form
    of ``hourly_rollup`` (each event lands in duration/slide
    overlapping windows; a 2h window sliding 1h gives hour-grain output
    with 2h context, the standard rate/trend smoother).

    ``F.window(ts, duration, slide)`` is the native Spark form --
    internally an Expand of duration/slide rows per event followed by
    the same tumbling aggregation. Map-side combinable; the shuffle
    carries (window, type) partials only.
    """
    return (
        events.groupBy(
            F.window("ts", duration, slide).start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
