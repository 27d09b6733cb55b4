"""Streaming tick→bar aggregation (SURVEY.md §2.10).

The reference ingests 3-second tick snapshots as zip/CSV bulk loads and
aggregates them in ClickHouse (`Project report.md:449-487,391-400`); the
idiomatic Spark expression is a Structured Streaming job: file source →
event-time tumbling window with a watermark → append-mode sink. The
aggregation body is IDENTICAL to the batch `tick_bars_minute` query
(plans/longtail_queries.py) — batch and streaming share one logical plan,
which is the point of Structured Streaming.

Scale notes:
- the watermark bounds state: closed windows are evicted, so state is
  O(active windows × entities), not O(stream length).
- `dropDuplicates(["event_id"])` before aggregation makes replays
  idempotent (the reference's re-ingest tolerance).
- materialized turnover is computed in the stream (compute-on-write,
  `stock_3tick_db_ddl.md:25`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _event_time_type(df: DataFrame) -> str:
    """Event-time column type: streaming watermarks require the instant
    TIMESTAMP type, but the batch twins keep TIMESTAMP_NTZ so their
    emitted timestamps do not shift with the session time zone (r12
    hostile-TZ sweep finding — the registered batch queries are the
    driver-gated surface, and the naive source column must round-trip)."""
    return "timestamp" if df.isStreaming else "timestamp_ntz"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. Streaming sources need
    an explicit schema, so it is pinned from a batch read; the raw file
    schema (pre-conversion, TIMESTAMP(NANOS) surfaced as long) is what
    the stream sees, so the same nanos→timestamp conversion applies."""
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source wants a directory: stream the sf dir, globbed down
    # to the events file(s)
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream


def streaming_minute_bars(events: DataFrame, watermark: str = "5 minutes") -> DataFrame:
    """Watermarked tumbling 1-minute OHLCV bars per entity.

    Dedup state note: a plain dropDuplicates(["event_id"]) after
    withWatermark keeps its state FOREVER (state is only evicted when the
    event-time column is part of the dedup key), so replay-idempotence
    uses dropDuplicatesWithinWatermark — duplicates arriving within the
    watermark delay are dropped and state older than the watermark is
    evicted, bounding state by O(events per watermark window)."""
    # Event-time type: streaming watermarks REQUIRE the instant type
    # (EventTimeWatermark rejects TIMESTAMP_NTZ), but the BATCH twin
    # keeps NTZ end-to-end — casting the NTZ source to the instant type
    # made every emitted timestamp a function of the SESSION time zone
    # (the r12 hostile-TZ sweep caught the shifted batch outputs; the
    # streaming tests pin UTC, where the instant cast is value-exact).
    ticks = (
        events.withColumn("ts", F.col("ts").cast(_event_time_type(events)))
        .withColumn("k", F.regexp_extract("props", r"(\d+)", 1).cast("int"))
        .withColumn("turnover", F.col("value") * F.col("k"))  # compute-on-write
        .withWatermark("ts", watermark)
    )
    if events.isStreaming:
        ticks = ticks.dropDuplicatesWithinWatermark(["event_id"])
    else:  # batch twin for parity tests: no state to bound
        ticks = ticks.dropDuplicates(["event_id"])
    return (
        ticks.groupBy("user_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.min("value").alias("low"),
            F.max("value").alias("high"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("k").alias("volume"),
            F.sum("turnover").alias("turnover"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("bar_start"),
            "low",
            "high",
            "n_ticks",
            "volume",
            "turnover",
        )
    )


def _click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, within: str, watermark: str, how: str
) -> DataFrame:
    """The watermarked clicks x purchases interval join behind both public
    joins: the same user, purchase inside (click_ts, click_ts + within]."""
    c = (
        clicks.withColumn("click_ts", F.col("ts").cast(_event_time_type(clicks)))
        .select("user_id", "click_ts", F.col("event_id").alias("click_id"))
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.withColumn("purchase_ts", F.col("ts").cast(_event_time_type(purchases)))
        .select(
            F.col("user_id").alias("p_user"),
            "purchase_ts",
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return c.join(p, cond, how).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"
    )


def click_purchase_interval_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "10 minutes", watermark: str = "5 minutes"
) -> DataFrame:
    """Stream-stream INNER interval join: every (click, purchase) of the
    same user with the purchase inside (click_ts, click_ts + within].

    The time bound is what makes an unbounded stream-stream join
    tractable: with event-time watermarks on BOTH sides plus the range
    condition, each side's state is evicted once the other side's
    watermark passes the bound — state is O(events per join window), not
    O(stream length). The same function body runs the batch twin (same
    join, no state) for the parity test.
    """
    return _click_purchase_join(clicks, purchases, within, watermark, "inner")


def sliding_type_stats(
    events: DataFrame, watermark: str = "5 minutes", size: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Overlapping (sliding) event-time windows: per event_type, count and
    exact fixed-point value sum over a `size` window sliding every
    `slide`. Each event lands in size/slide windows — Spark expands the
    membership at the source (no self-join), and the watermark still
    evicts every window whose end precedes it, so state stays
    O(open windows × types) on an unbounded stream. The aggregation body
    is shared verbatim with the batch twin (same function, batch input).
    """
    ev = events.withColumn(
        "ts", F.col("ts").cast(_event_time_type(events))
    ).withWatermark("ts", watermark)
    return (
        ev.groupBy("event_type", F.window("ts", size, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias(
                "value_total"
            ),
        )
        .select(
            "event_type",
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
            "value_total",
        )
    )


def click_purchase_outer_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "10 minutes", watermark: str = "5 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: like
    click_purchase_interval_join, plus a NULL-purchase row for every
    click whose join window closed with no match — the abandonment
    signal an attribution pipeline needs.

    Outer results are what make watermarks load-bearing rather than
    just an eviction hint: a click can only be declared unmatched once
    the watermark proves no qualifying purchase can still arrive
    (watermark > click_ts + within), so each null row is emitted
    exactly once, deterministically, and state stays bounded. The same
    body runs as the batch twin (plain left join) for the parity test;
    the streaming run emits null rows ONLY for clicks the final
    watermark closed, which the test mirrors.
    """
    return _click_purchase_join(clicks, purchases, within, watermark, "left_outer")
