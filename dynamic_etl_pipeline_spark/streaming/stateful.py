"""Per-user stateful streaming operators, held in the JVM state store.

Both are native streaming aggregates: the state lives in Spark's state
store (HDFS-backed by default, RocksDB when the provider is set), each
micro-batch touches only the keys present in that batch, and no row
crosses into a Python worker. State is partitioned by key across
executors, so throughput scales with the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollups import dsum


def user_running_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user event count + value total, emitted once per
    user per micro-batch in update mode (batch equivalent after a full
    replay: plain groupBy sum/count; DuckDB oracle:
    CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE)).

    The total accumulates as DECIMAL, so it is order-independent and
    the DECIMAL -> DOUBLE cast rounds once, at emission. No watermark:
    the result never depended on one (a late event still counts), and
    a watermark would add a no-data trigger to every drain; state is
    one row per user, bounded by the key space."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


def user_sessions_stateful(events: DataFrame, gap_minutes: int = 30,
                           watermark: str = "2 hours") -> DataFrame:
    """Per-user sessions split on a ``gap_minutes`` inactivity gap,
    emitted in append mode once the watermark passes a session's last
    event + gap, i.e. when no admissible event can extend it. Events
    exactly ``gap_minutes`` apart share a session (a new one starts
    only past the gap, like the oracle's ``> INTERVAL``). Output:
    ``(user_id, session_start, session_end, n_events)`` with both
    times as epoch MICROSECONDS of the first and last event.

    Batch twin (full replay + far-future sentinel to flush): the
    lag/cumsum sessionizer of queries/events.py::events_sessionize —
    equality pinned in tests/test_streaming.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_micros("_first").alias("session_start"),
            F.unix_micros("_last").alias("session_end"),
            "n_events",
        )
    )
