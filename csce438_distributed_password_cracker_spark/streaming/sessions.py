"""Liveness / windowed aggregation streams (SURVEY.md §2.9 T2 + tumbling).

Reference behavior: every epoch (2 s) a timer checks whether anything
arrived; after 5 silent epochs the connection is declared dead
(lsp_client.c:9-10, lsp_server.c:31-35) — a 10 s session-timeout failure
detector.

Spark mapping: ``session_window(ts, gap)`` over the event stream with a
watermark for late data — a session *closes* when its connection has been
silent for the gap, which is exactly the epoch-timeout semantics; the
watermark bounds state like the reference's per-connection epoch counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_GAP = "10 seconds"  # 5 epochs x 2 s (api.h / lsp_server.c defaults)
DEFAULT_WATERMARK = "30 seconds"


def sessionize(
    events: DataFrame,
    conn_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = DEFAULT_GAP,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Session-windowed liveness: one row per (connection, session) with
    start/end/event count.  Works identically on a streaming or batch
    DataFrame (the batch twin is what q_stream_sessions oracle-checks)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(conn_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(conn_col).alias("connid"),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def tumbling(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count/sum — the standard windowed aggregation over
    the message stream (batch twin: q_stream_tumbling)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), duration))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST(round(sum(CAST({value_col} AS DECIMAL(18,2))), 2) AS DOUBLE)"
            ).alias("window_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_events", "window_value"
        )
    )
