"""Event-time windowed aggregation operators (streaming-legal).

The reference holds no event-time state at all (record-at-a-time,
/root/reference/app/app.py:220) — these are the capabilities SURVEY.md
§2.4 maps onto Spark's watermark + window machinery. Every function
takes an events-shaped DataFrame (batch OR stream: same code, Catalyst
plans both) and returns an aggregated DataFrame.

State sizing at 100 TB/day: watermarks bound every operator's state —
tumbling/sliding state is O(active windows x keys), session state is
O(open sessions); nothing here grows without eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window_len: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per event_type counts + value sum over tumbling windows. Late rows
    beyond the watermark are dropped (the documented late-data policy)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts (each row lands in len/slide windows)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user session windows (gap-based): a session closes after
    ``gap`` of inactivity; the watermark lets Spark finalize and evict
    closed sessions. Batch-mode equivalent of queries/relational.py's
    lag-based sessionization — same semantics, streaming-capable."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on a key + event-time interval: a right
    row matches a left row when right_ts in [left_ts - 0, left_ts +
    upper]. Both sides are watermarked so the join state (buffered
    unmatched rows) is evicted once the time bound passes — the condition
    Spark requires for bounded stream-stream join state.

    Works identically in batch mode (watermarks are no-ops there), which
    is how the oracle-free semantics get pinned by tests.
    """
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    return lw.join(
        rw,
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (rts >= lts - F.expr(f"INTERVAL {lower}"))
        & (rts <= lts + F.expr(f"INTERVAL {upper}")),
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dedup on ``key_cols`` with watermark-bounded state:
    a duplicate arriving within ``watermark`` of the first occurrence is
    dropped; state for older keys is evicted. This is the operator that
    upgrades an at-least-once redelivering source to effectively-once."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
