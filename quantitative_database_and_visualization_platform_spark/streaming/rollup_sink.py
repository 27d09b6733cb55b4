"""Continuous-aggregate sink: a streaming rollup maintained by MERGING
fixed-point partial aggregates into a stored table on every micro-batch
— the streaming twin of the batch `incremental_rollup_maintenance`
query (hypertable continuous-aggregate semantics; the reference's
nightly factor jobs maintain factor_db the same way,
`Project report.md:741-781`).

Scale design: each micro-batch shuffles only ITS OWN partial rollup
(map-side combined, bucket-count-sized), then merges with the stored
rollup by summing integer partials — exact under any merge order and
any micro-batch boundary placement. Summing is not idempotent, so a
batch re-delivered by at-least-once foreachBatch must not be merged
twice: versioned_store's pointer is both the commit point and the
batch high-water mark, and its fold step skips every id at or below
it. A crash at any point leaves the previous committed rollup
readable, so store loss can never be mistaken for bootstrap. A
production deployment swaps in a MERGE-capable table format carrying
the same high-water mark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tick_bars import _event_time_type
from .versioned_store import commit_store  # noqa: F401  (perfbench/spans.py wraps it by this name)
from .versioned_store import read_store, start_store_sink


def _partial_rollup(df: DataFrame) -> DataFrame:
    """(day, event_type) partials with integer cents — mergeable exactly."""
    return (
        df.withColumn("ts", F.col("ts").cast(_event_time_type(df)))
        .select(
            # direct cast-to-date: for the batch NTZ path this never
            # touches the session zone (date_trunc would promote to the
            # instant type and shift DST-gap-local times — r12 ADVICE);
            # for the streaming instant path it is the same local-day
            # bucket date_trunc('day') produced
            F.col("ts").cast("date").alias("day"),
            "event_type",
            "value",
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )


def merge(stored: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold one micro-batch's partials into the stored rollup by summing
    integer partials. The store is bucket-count-sized (days x types), so
    the versioned commit's driver materialization is bounded."""
    delta = _partial_rollup(batch)
    merged = delta if stored is None else stored.unionByName(delta)
    return merged.groupBy("day", "event_type").agg(
        F.sum("event_cnt").alias("event_cnt"),
        F.sum("value_cents").alias("value_cents"),
    )


def start_rollup_sink(events: DataFrame, store_path: str):
    """Start a foreachBatch stream maintaining the rollup at store_path.

    Returns the StreamingQuery. Read the current rollup with
    `read_rollup` — event_cnt/value_total match a from-scratch batch
    rollup of everything ingested so far, whatever the batch boundaries.
    """
    return start_store_sink(events, store_path, merge)


def read_rollup(spark, store_path: str) -> DataFrame:
    cur = read_store(spark, store_path)
    if cur is None:
        raise FileNotFoundError(f"no committed rollup store at {store_path}")
    return cur.select(
        "day",
        "event_type",
        "event_cnt",
        (F.col("value_cents") / 100.0).alias("value_total"),
    )
