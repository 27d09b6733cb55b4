"""Daily OHLCV bar panel derived from the events stream.

The reference's factor layer runs on per-(stock, trade_date) OHLCV rows
(`database/ddl/quant_db_ddl.md:95-105`). The testdata analog: aggregate
the events stream into daily bars per user — exactly the reference's
tick→bar capability (`Project report.md:391-400`): first/max/min/last as
open/high/low/close, integer-exact volume/amount sums.

Scale shape (rewritten in the r13 optimization round, guide §2.3/§2.4):
one groupBy (code, day) with MAP-SIDE partial aggregation builds the bars
— open/close are min_by/max_by on the (ts, event_id) key, so the single
exchange carries one partial-agg row per (code, day) instead of every
event row, and the two row_number sorts of the event stream are gone
(plan before: Exchange→Sort→Window→Sort→Window→partial agg→Exchange;
after: partial agg→Exchange). (ts, event_id) is a unique total order, so
the min_by/max_by picks are exactly the old rn_a=1/rn_z=1 rows — pinned
by tests/test_optimization_r13.py against the inlined window spec and by
the unchanged O_BARS oracle across the whole gate. Every factor suite
afterwards reuses a single partitionBy(code) sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import checkpoint_sized
from ..sources.catalog import SHARED_TABLES, load_table, shared, table_path

# DuckDB twin of daily_bars, used as a CTE prefix by every factor oracle.
O_BARS = """
    bars AS (
        SELECT user_id AS code, CAST(ts AS DATE) AS d,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
               CAST(SUM(k) AS BIGINT) AS volume,
               SUM(CAST(ROUND(value*100,0) AS BIGINT) * k)/100.0 AS amount
        FROM (
            SELECT user_id, ts, value, event_id,
                   CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k,
                   ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                      ORDER BY ts DESC, event_id DESC) AS rn_z
            FROM events
            WHERE value IS NOT NULL AND props IS NOT NULL
        )
        GROUP BY user_id, CAST(ts AS DATE)
    )
"""


# Synthetic monthly fundamentals fixture: the reference's dividend_yield /
# yoy_net_profit factors read a fundamentals table (`basic
# factor_function.md:50-59`, `factor_db_ddl.md:123-125`) that the testdata
# does not ship, so the fixture derives deterministic per-(code, month)
# rows from pure integer arithmetic — identical on both engines — covering
# 24 months (2023-01..2024-12) so a year-over-year lag exists for the
# panel's dates. The *operators* (fundamentals join, ratio-to-price, YoY
# growth) are the reference's; only the data is synthetic.
O_FUND = """
    fund AS (
        SELECT c.code, CAST(m.mi AS INT) AS mi,
               CAST(DATE '2023-01-01' + (m.mi * INTERVAL 1 MONTH) AS DATE) AS mo,
               CAST((c.code * 37 + m.mi * 13) % 11 AS DOUBLE) / 10.0 * 0.5 AS dps,
               CAST(1000 + (c.code * 53 + m.mi * 17) % 997 AS DOUBLE) AS net_profit
        FROM (SELECT DISTINCT code FROM bars) c, range(24) m(mi)
    ), fundy AS (
        SELECT f.code, f.mo, f.dps, f.net_profit,
               f.net_profit / p.net_profit - 1 AS yoy_np
        FROM fund f LEFT JOIN fund p ON f.code = p.code AND f.mi = p.mi + 12
    )
"""


def fundamentals(bars: DataFrame) -> DataFrame:
    """(code, mo, dps, net_profit, yoy_np) — see O_FUND for provenance."""
    spark = bars.sparkSession
    codes = bars.select("code").distinct()
    months = spark.range(24).select(
        F.col("id").cast("int").alias("mi"),
        F.add_months(F.lit("2023-01-01").cast("date"), F.col("id").cast("int")).alias(
            "mo"
        ),
    )
    f = codes.crossJoin(F.broadcast(months)).select(
        "code",
        "mo",
        "mi",
        (((F.col("code") * 37 + F.col("mi") * 13) % 11).cast("double") / 10.0 * 0.5).alias(
            "dps"
        ),
        ((F.lit(1000) + (F.col("code") * 53 + F.col("mi") * 17) % 997).cast("double")).alias(
            "net_profit"
        ),
    )
    prev = f.select(
        "code", (F.col("mi") + 12).alias("mi"), F.col("net_profit").alias("np_prev")
    )
    return (
        f.join(prev, ["code", "mi"], "left")
        .select(
            "code",
            "mo",
            "dps",
            "net_profit",
            (F.col("net_profit") / F.col("np_prev") - 1).alias("yoy_np"),
        )
    )


def daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(code, d, open, high, low, close, volume, amount) daily panel."""
    # A tick with no price or no volume payload is a malformed record (the
    # condition a 100 TB lake hits routinely — failed parses, sensor gaps);
    # it must not participate in bar construction: a NULL value elected as
    # the rn_a/rn_z open/close pick would NULL the bar, and downstream
    # factor recursions (EMA, ts_* windows, ranks) have engine-specific
    # NULL semantics. Dropping the row BEFORE the window flags keeps both
    # engines bit-identical (same WHERE in O_BARS) and is a no-op on clean
    # data (r13 NULL-saturated sweep, tests/test_null_saturated_inputs.py).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("props").isNotNull())
        .withColumn("k", F.regexp_extract("props", r"(\d+)", 1).cast("int"))
    )
    day = F.to_date("ts")
    # open/close = value at the min/max (ts, event_id) of the day — the
    # same rows the old rn_a=1 / rn_z=1 row_number flags elected ((ts,
    # event_id) is unique, so there are no ties for min_by/max_by to
    # break). As aggregates these partial-combine map-side, where a
    # window function would shuffle and sort every event row twice.
    # The ordering key is a SINGLE decimal(38,0) packing micros(ts) and
    # event_id, not struct(ts, event_id): a struct aggregation buffer is
    # not UnsafeRow-mutable, which silently demotes the whole agg to
    # SortAggregate (two full sorts of the event stream — the exact cost
    # the rewrite removes); a decimal buffer keeps HashAggregate. Micros
    # are derived from NTZ field accessors (unix_date/hour/minute/
    # extract-SECOND), never via an NTZ→LTZ cast, so a hostile session
    # TZ with DST gaps cannot collapse distinct ts to one instant and
    # flip a tie to event_id order. event_id < 1e12 is guaranteed (base
    # ids < 1e9, replica stride 1e9 ≤ 1000 replicas), so the packing is
    # strictly order-isomorphic to (ts, event_id).
    us = (
        F.unix_date(F.col("ts").cast("date")) * F.lit(86400000000).cast("long")
        + F.hour("ts").cast("long") * 3600000000
        + F.minute("ts").cast("long") * 60000000
        + (F.expr("extract(SECOND FROM ts)") * 1000000).cast("long")
    )
    pick = us.cast("decimal(38,0)") * F.lit(1000000000000).cast("decimal(38,0)") + F.col(
        "event_id"
    ).cast("decimal(38,0)")
    return ev.groupBy(F.col("user_id").alias("code"), day.alias("d")).agg(
        F.min_by("value", pick).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", pick).alias("close"),
        F.sum("k").alias("volume"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long") * F.col("k")) / 100.0).alias(
            "amount"
        ),
    )


# Session-materialized bar panel: the reference platform STORES daily bars
# as a ClickHouse table (tick→bar materialization on ingest, reference
# `Project report.md:391-400`) and every factor/backtest page reads that
# table — it never re-runs tick→bar per query. 84 registered query
# builders here derived the identical panel from the event stream each,
# at ~0.5-0.9 s per execution at bench scale (measured r13: bars noop
# recompute 0.602 s vs materialized-leaf read 0.067 s; a typical window
# consumer 0.947 → 0.555 s). A production run writes this panel as a
# parquet/Iceberg table (sources.catalog.write_partitioned is that path).

# alias of the registry mapping, kept because perfbench/spans.py reads this name
_BARS_CACHE = SHARED_TABLES

# ~bytes per bar row in Spark's unsafe-row format (2 longs of null bits
# + key, 1 date, 5 numeric cols + object overhead); only used to SIZE the
# leaf's partitions, never for correctness.
_BAR_ROW_BYTES = 100


def _leaf_partitions(spark: SparkSession, n_rows: int) -> int:
    """Scale-adaptive leaf partition count (see session.checkpoint_sized,
    which enforces the same rule): ~64 MB of bar rows per partition,
    floored at min(defaultParallelism, 4). The floor exists because
    broadcast-BUILD chains over the leaf run at leaf parallelism with no
    exchange to re-spread them (measured at sf0.1, warm medians:
    cointegration_screen 8.7 s on a 1-partition leaf, 1.9 s at 4); the
    ceiling-by-bytes exists because a 32-partition leaf of a 4 MB panel
    turns every one of a query's leaf scans into 32 micro-tasks
    (cointegration_screen 6.0 s at 32). At production scale the bytes
    term dominates and the floor never binds."""
    by_bytes = max(1, -(-n_rows * _BAR_ROW_BYTES // (64 << 20)))
    return max(min(spark.sparkContext.defaultParallelism, 4), by_bytes)


def bars_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (code, d, open, high, low, close, volume, amount) panel —
    `daily_bars` materialized once per session and events file."""
    return shared(
        spark,
        ("bars", sf_dir),
        (table_path(sf_dir, "events"),),
        lambda: checkpoint_sized(spark, daily_bars(spark, sf_dir), _BAR_ROW_BYTES),
    )
