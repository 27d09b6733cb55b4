"""Gap-based session windows via the native ``F.session_window``
operator — the Structured Streaming session primitive (SURVEY.md §2.10
extension surface; the reference's per-user activity rollups,
`Project report.md` user-activity section, expressed as true sessions
instead of fixed buckets).

Semantics (Spark's): each event opens a window ``[ts, ts+gap)``;
overlapping windows of the same key merge, so a session extends while
consecutive events are strictly less than ``gap`` apart, and
``session_end = last_ts + gap``. The batch form of the same call is
Spark's native islands implementation: one shuffle on the grouping key,
per-key sort, linear merge — no self-join.

Scale: streaming state is one (start, end, aggregates) tuple per OPEN
session per key in the state store; the watermark finalizes and evicts a
session once no event can extend it (watermark past session_end). Batch:
the merge is a per-key linear pass after the one exchange, the same cost
class as any windowed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tick_bars import _event_time_type

GAP = "30 minutes"


def session_stats(
    events: DataFrame, gap: str = GAP, watermark: str | None = None
) -> DataFrame:
    """Per-user session frame: one row per (user, session) with span and
    exact fixed-point value total. Works on a batch OR streaming events
    frame; pass ``watermark`` for append-mode streaming.

    ``ts`` stays TIMESTAMP_NTZ on the BATCH path (casting the naive
    source to the instant type made session_start/session_end shift
    with the session TZ — r12 hostile-TZ sweep finding); the streaming
    path casts to the instant type, which EventTimeWatermark requires.
    """
    ev = events.withColumn("ts", F.col("ts").cast(_event_time_type(events)))
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0
            ).alias("value_total"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_total",
        )
    )
