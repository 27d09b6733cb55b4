"""Relational core queries (SURVEY.md §2.1–§2.4, §2.7, §2.8).

Each query re-expresses one of the reference's analytical SQL patterns
(`app/Quantlib/QuantDB.py`, `app/Quantlib/main.py`) on the driver's
TPC-H-ish tables, per the mapping in FIXTURES.md. Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.crosssection import histogram_bin
from ..operators.relational import (
    global_ntile,
    semi_join_pool,
    star_join,
    top_k,
    weighted_euclidean,
)
from ..pipeline import sketches as sk
from ..sources.catalog import load_table
from .registry import (
    avg_fixed,
    o_avg_fixed,
    o_round6,
    o_sum_fixed,
    query,
    round6,
    sum_fixed,
)


# ---------------------------------------------------------------------------
# Global market stats — ungrouped aggregation with count_if/median
# (reference `QuantDB.py:375-388`: sum(amount), median(pct_chg), countIf up,
#  countIf down in one pass). One job, partial aggregation map-side; the
# 100 TB plan is a single scan + tiny exchange.
# ---------------------------------------------------------------------------
@query(
    "global_market_stats",
    oracle=f"""
    SELECT {o_sum_fixed('l_extendedprice')} AS total_amount,
           ROUND(median(l_discount), 6)     AS median_discount,
           CAST(COALESCE(count_if(l_returnflag = 'R'), 0) AS BIGINT)
               AS cnt_returned,
           CAST(COALESCE(count_if(l_returnflag <> 'R'), 0) AS BIGINT)
               AS cnt_kept,
           CAST(COUNT(*) AS BIGINT)         AS cnt_rows
    FROM lineitem
    """,
)
def global_market_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        sum_fixed("l_extendedprice").alias("total_amount"),
        F.round(F.percentile("l_discount", 0.5), 6).alias("median_discount"),
        F.count_if(F.col("l_returnflag") == "R").alias("cnt_returned"),
        F.count_if(F.col("l_returnflag") != "R").alias("cnt_kept"),
        F.count(F.lit(1)).alias("cnt_rows"),
    )


# ---------------------------------------------------------------------------
# Pricing summary — TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.
# (maps the reference's multi-measure sector rollups, `QuantDB.py:293-310`.)
# Catalyst does partial+final agg; filter pushes to the parquet scan.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_sum_fixed('l_quantity')}                               AS sum_qty,
           {o_sum_fixed('l_extendedprice')}                          AS sum_base_price,
           {o_sum_fixed('l_extendedprice*(1-l_discount)')}           AS sum_disc_price,
           {o_sum_fixed('l_extendedprice*(1-l_discount)*(1+l_tax)')} AS sum_charge,
           ROUND({o_avg_fixed('l_quantity')}, 6)                     AS avg_qty,
           ROUND({o_sum_fixed('l_discount', 1000000)}/COUNT(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_fixed("l_quantity").alias("sum_qty"),
            sum_fixed("l_extendedprice").alias("sum_base_price"),
            sum_fixed(disc_price).alias("sum_disc_price"),
            sum_fixed(charge).alias("sum_charge"),
            F.round(avg_fixed("l_quantity"), 6).alias("avg_qty"),
            F.round(sum_fixed("l_discount", 1000000) / F.count("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# 6-way wide-table LEFT JOIN — the screener query (`QuantDB.py:158-179`,
# LIMIT 8000). Fact side stays un-shuffled: every dimension is broadcast.
# At 100 TB the lineitem scan is the only big input; TakeOrderedAndProject
# keeps the top-k per partition, no global sort.
# ---------------------------------------------------------------------------
@query(
    "screener_wide_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           o.o_totalprice, o.o_orderpriority,
           c.c_name, c.c_mktsegment, n.n_name, r.r_name, p.p_name
    FROM lineitem l
    LEFT JOIN orders   o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN customer c ON o.o_custkey  = c.c_custkey
    LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region   r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN part     p ON l.l_partkey  = p.p_partkey
    ORDER BY l.l_orderkey, l.l_linenumber
    LIMIT 8000
    """,
)
def screener_wide_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # broadcast hints only on the fixed-size dims (nation/region); orders/
    # customer/part scale with the data, so AQE picks their join strategy
    # (it still broadcasts them at runtime when they actually fit, as at
    # this SF) without the forced-hint OOM risk at 100 TB.
    wide = star_join(
        li,
        [
            (load_table(spark, sf_dir, "orders"), li["l_orderkey"] == F.col("o_orderkey"), "left", False),
            (load_table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"), "left", False),
            (load_table(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"), "left", True),
            (load_table(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"), "left", True),
            (load_table(spark, sf_dir, "part"), li["l_partkey"] == F.col("p_partkey"), "left", False),
        ],
    ).select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        "o_totalprice", "o_orderpriority",
        "c_name", "c_mktsegment", "n_name", "r_name", "p_name",
    )
    return top_k(wide, [F.col("l_orderkey"), F.col("l_linenumber")], 8000)


# ---------------------------------------------------------------------------
# Sector rotation rollup — groupBy + count/sum/avg/median + HAVING + sort
# (`QuantDB.py:293-310`). THE flagship query (SURVEY.md §7.4).
# ---------------------------------------------------------------------------
@query(
    "sector_rollup",
    oracle=f"""
    SELECT n.n_name AS sector_name,
           CAST(COUNT(*) AS BIGINT)                     AS order_cnt,
           {o_sum_fixed('o.o_totalprice')}              AS total_amount,
           ROUND({o_avg_fixed('o.o_totalprice')}, 6)    AS avg_amount,
           ROUND(median(o.o_totalprice), 6)             AS median_amount,
           CAST(count_if(o.o_orderstatus = 'F') AS BIGINT) AS finished_cnt
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING COUNT(*) > 3
    """,
)
def sector_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sector_joined(spark, sf_dir).groupBy(
        F.col("n_name").alias("sector_name")
    ).agg(
        F.count(F.lit(1)).alias("order_cnt"),
        sum_fixed("o_totalprice").alias("total_amount"),
        F.round(avg_fixed("o_totalprice"), 6).alias("avg_amount"),
        F.round(F.percentile("o_totalprice", 0.5), 6).alias("median_amount"),
        F.count_if(F.col("o_orderstatus") == "F").alias("finished_cnt"),
    ).filter(F.col("order_cnt") > 3)


def _sector_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # customer scales with the data → no forced broadcast (AQE decides);
    # nation is a fixed 25-row dim → hint it.
    return star_join(
        orders,
        [
            (customer, orders["o_custkey"] == customer["c_custkey"], "inner", False),
            (nation, customer["c_nationkey"] == nation["n_nationkey"], "inner", True),
        ],
    )


# ---------------------------------------------------------------------------
# Sector rotation: yearly sector ranking by fixed-point order totals plus
# the year-over-year rank change — the reference's sector-rotation view
# (`pages/4_Sector heatmap.py`) as an engine query. One join tree shared
# with sector_rollup, one (year, sector) aggregate, one dense_rank per
# year, one lag over the sector's own year series.
# ---------------------------------------------------------------------------
@query(
    "sector_rotation_yearly",
    oracle=f"""
    WITH per AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS yr, n.n_name AS sector_name,
               {o_sum_fixed('o.o_totalprice')} AS total_amount
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY EXTRACT(year FROM o.o_orderdate), n.n_name
    )
    , ranked AS (
        SELECT yr, sector_name, total_amount,
               dense_rank() OVER (PARTITION BY yr ORDER BY total_amount DESC, sector_name)
                 AS sector_rank
        FROM per
    )
    SELECT CAST(yr AS BIGINT) AS yr, sector_name, total_amount,
           CAST(sector_rank AS BIGINT) AS sector_rank,
           CAST(sector_rank - LAG(sector_rank)
                  OVER (PARTITION BY sector_name ORDER BY yr) AS BIGINT) AS rank_chg
    FROM ranked
    """,
)
def sector_rotation_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _sector_joined(spark, sf_dir)
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("n_name").alias("sector_name"),
        )
        .agg(sum_fixed("o_totalprice").alias("total_amount"))
    )
    rank_w = Window.partitionBy("yr").orderBy(
        F.col("total_amount").desc(), "sector_name"
    )
    ranked = per.withColumn("sector_rank", F.dense_rank().over(rank_w).cast("long"))
    trend_w = Window.partitionBy("sector_name").orderBy("yr")
    return ranked.withColumn(
        "rank_chg",
        (F.col("sector_rank") - F.lag("sector_rank").over(trend_w)).cast("long"),
    )


# ---------------------------------------------------------------------------
# Semi-join pool — "yesterday's limit-up stocks, today's stats"
# (`QuantDB.py:443-452`): key IN (SELECT ...) → left-semi join. The pool is
# tiny → broadcast semi-join, fact side never shuffles.
# ---------------------------------------------------------------------------
@query(
    "semi_join_pool_stats",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT)                  AS order_cnt,
           {o_sum_fixed('o_totalprice')}             AS total_amount,
           ROUND({o_avg_fixed('o_totalprice')}, 6)   AS avg_amount
    FROM orders
    WHERE o_custkey IN (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-15' AND event_type = 'error'
    )
    """,
)
def semi_join_pool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pool = (
        load_table(spark, sf_dir, "events")
        .filter((F.to_date("ts") == F.lit("2024-01-15")) & (F.col("event_type") == "error"))
        .select(F.col("user_id").alias("o_custkey"))
        .distinct()
    )
    return semi_join_pool(orders, pool, "o_custkey").agg(
        F.count(F.lit(1)).alias("order_cnt"),
        sum_fixed("o_totalprice").alias("total_amount"),
        F.round(avg_fixed("o_totalprice"), 6).alias("avg_amount"),
    )


# ---------------------------------------------------------------------------
# Prev-trading-day comparison (`QuantDB.py:358-369`): the reference
# self-joins on a scalar subquery `max(trade_date) < d`; the Spark-first
# expression is lag() over the (tiny) per-day aggregate — one window,
# no join. The per-day aggregate is one row per date, so the unpartitioned
# window is bounded (~thousands of rows even for decades of data).
# ---------------------------------------------------------------------------
@query(
    "prev_day_change",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS trade_date,
               {o_sum_fixed('o_totalprice')} AS total_amount
        FROM orders GROUP BY 1
    ), lagged AS (
        SELECT trade_date, total_amount,
               LAG(total_amount) OVER (ORDER BY trade_date) AS prev_amount
        FROM daily
    )
    SELECT trade_date, total_amount, prev_amount,
           CASE WHEN prev_amount > 0
                THEN ROUND((total_amount - prev_amount) / prev_amount * 100, 6)
                ELSE 0.0 END AS amount_pct_chg
    FROM lagged
    """,
)
def prev_day_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("trade_date")).agg(
        sum_fixed("o_totalprice").alias("total_amount")
    )
    w = Window.orderBy("trade_date")
    prev = F.lag("total_amount").over(w)
    return daily.select(
        "trade_date",
        "total_amount",
        prev.alias("prev_amount"),
        F.when(prev > 0, F.round((F.col("total_amount") - prev) / prev * 100, 6))
        .otherwise(F.lit(0.0))
        .alias("amount_pct_chg"),
    )


# ---------------------------------------------------------------------------
# Similarity top-k — weighted Euclidean distance + ORDER BY dist LIMIT k
# (`QuantDB.py:181-202`). Squares written as explicit multiplication so
# both engines produce bit-identical doubles (libm pow() is not correctly
# rounded everywhere). Spark plans TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@query(
    "similarity_topk",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice,
           ROUND(sqrt((p_size - 25.0)*(p_size - 25.0)
                 + ((p_retailprice - 950.0)*0.1)*((p_retailprice - 950.0)*0.1)), 6) AS dist
    FROM part
    WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
    ORDER BY dist, p_partkey
    LIMIT 5
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dist = weighted_euclidean(
        [
            (F.col("p_size").cast("double"), 25.0, 1.0),
            (F.col("p_retailprice"), 950.0, 0.1),
        ]
    )
    scored = (
        part.filter(F.col("p_size").isNotNull() & F.col("p_retailprice").isNotNull())
        .select("p_partkey", "p_name", "p_size", "p_retailprice", F.round(dist, 6).alias("dist"))
    )
    return top_k(scored, [F.col("dist"), F.col("p_partkey")], 5)


# ---------------------------------------------------------------------------
# IN-list predicate (`QuantDB.py:394-395`: index codes IN (...)).
# ---------------------------------------------------------------------------
@query(
    "in_list_priority_stats",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)      AS order_cnt,
           {o_sum_fixed('o_totalprice')} AS total_amount
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def in_list_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            sum_fixed("o_totalprice").alias("total_amount"),
        )
    )


# ---------------------------------------------------------------------------
# LIKE predicate (`QuantDB.py:339`: sector_name LIKE '%..%').
# ---------------------------------------------------------------------------
@query(
    "like_filter_brand_stats",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS part_cnt,
           MIN(p_retailprice)       AS min_price,
           MAX(p_retailprice)       AS max_price
    FROM part
    WHERE p_name LIKE '%small%'
    GROUP BY p_brand
    """,
)
def like_filter_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%small%"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("part_cnt"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# Regex extraction + numeric coercion (`Project report.md:735`,
# `pages/2_Sentiment radar.py:80-82`: str.extract(r'(\d+)')).
# ---------------------------------------------------------------------------
@query(
    "regex_extract_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '(\\d+)', 1) AS INT)) AS BIGINT) AS k_sum,
           CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM events
    GROUP BY event_type
    """,
)
def regex_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"(\d+)", 1).cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.count(F.lit(1)).alias("event_cnt"),
    )


# ---------------------------------------------------------------------------
# DISTINCT (`QuantDB.py:333`).
# ---------------------------------------------------------------------------
@query(
    "distinct_segments_nations",
    oracle="""
    SELECT DISTINCT c.c_mktsegment, n.n_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def distinct_segments_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select("c_mktsegment", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Histogram binning (pd.cut, `pages/1_Market overview.py:99-102`) — fixed
# comparison edges as a CASE chain on both sides (bit-exact, no division).
# ---------------------------------------------------------------------------
_EDGES = [0.0, 1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0]


def _o_case_bin(col: str) -> str:
    whens = "\n".join(
        f"WHEN {col} >= {_EDGES[i - 1]} AND {col} < {_EDGES[i]} THEN {i}"
        for i in range(1, len(_EDGES))
    )
    return f"CASE {whens} ELSE NULL END"


@query(
    "histogram_value_bins",
    oracle=f"""
    SELECT {_o_case_bin('value')} AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1
    """,
)
def histogram_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(histogram_bin(F.col("value"), _EDGES).alias("bin_id")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# FULL OUTER JOIN sentiment snapshot (`Project report.md:736`): limit-up
# events ⟗ broken-board events → one row per entity with coalesced flags.
# ---------------------------------------------------------------------------
@query(
    "full_outer_user_activity",
    oracle=f"""
    WITH clicks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS click_cnt,
               {o_sum_fixed('value')} AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ), errors AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS error_cnt
        FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, e.user_id) AS user_id,
           COALESCE(c.click_cnt, 0)   AS click_cnt,
           COALESCE(c.click_value, 0.0) AS click_value,
           COALESCE(e.error_cnt, 0)   AS error_cnt,
           CAST(c.user_id IS NOT NULL AS INT) AS has_click,
           CAST(e.user_id IS NOT NULL AS INT) AS has_error
    FROM clicks c FULL OUTER JOIN errors e ON c.user_id = e.user_id
    """,
)
def full_outer_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("click_cnt"), sum_fixed("value").alias("click_value"))
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("error_cnt"))
    )
    c, e = clicks.alias("c"), errors.alias("e")
    return (
        c.join(e, F.col("c.user_id") == F.col("e.user_id"), "full_outer")
        .select(
            F.coalesce(F.col("c.user_id"), F.col("e.user_id")).alias("user_id"),
            F.coalesce(F.col("click_cnt"), F.lit(0)).alias("click_cnt"),
            F.coalesce(F.col("click_value"), F.lit(0.0)).alias("click_value"),
            F.coalesce(F.col("error_cnt"), F.lit(0)).alias("error_cnt"),
            F.col("c.user_id").isNotNull().cast("int").alias("has_click"),
            F.col("e.user_id").isNotNull().cast("int").alias("has_error"),
        )
    )


# ---------------------------------------------------------------------------
# Materialized compute-on-write column (`stock_3tick_db_ddl.md:25`:
# turnover MATERIALIZED price*volume*100) — the writer computes the column;
# here expressed as the ingest projection.
# ---------------------------------------------------------------------------
@query(
    "materialized_turnover",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k,
           value * CAST(regexp_extract(props, '(\\d+)', 1) AS INT) * 100 AS turnover
    FROM events
    """,
)
def materialized_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"(\d+)", 1).cast("int")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        k.alias("k"),
        (F.col("value") * k * 100).alias("turnover"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (new r6): data-quality screen over monetary
# amounts — observed leading-digit distribution of o_totalprice vs the
# Benford expectation, with the absolute deviation per digit. A standard
# fraud/synthetic-data detector on financial tables (the reference's
# data-audit page runs distribution checks of the same shape).
#
# Determinism: the leading digit comes from FLOOR → BIGINT → string (both
# engines truncate identically through FLOOR; a raw double→int cast would
# diverge: Spark truncates, DuckDB rounds). The Benford expectations are
# compile-time literals (log10 evaluated once in Python), so no
# cross-engine libm dependency. Rates are ratios of exact counts.
#
# Scale shape: single scan → 9-group aggregate, map-side combined.
# ---------------------------------------------------------------------------
_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@query(
    "benford_first_digit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ), counted AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(COUNT(*) AS BIGINT)) OVER () AS total
        FROM digits GROUP BY digit
    )
    SELECT digit, n,
           FLOOR((n*1.0/total)*1000000 + 0.5)/1000000.0 AS obs_rate,
           CASE digit {' '.join(f'WHEN {d} THEN CAST({p!r} AS DOUBLE)' for d, p in _BENFORD.items())} END
             AS benford_rate,
           FLOOR(ABS(n*1.0/total
                 - CASE digit {' '.join(f'WHEN {d} THEN CAST({p!r} AS DOUBLE)' for d, p in _BENFORD.items())} END)
                 *1000000 + 0.5)/1000000.0 AS abs_dev
    FROM counted
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counted = (
        orders.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
        # 9-row relation: the global total via an unpartitioned window is
        # driver-bounded by construction, not a scale smell
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD.items() for x in kv]
    )[F.col("digit")]
    obs = F.col("n") * 1.0 / F.col("total")
    return counted.select(
        "digit",
        "n",
        (F.floor(obs * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias("obs_rate"),
        benford.alias("benford_rate"),
        (F.floor(F.abs(obs - benford) * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
            "abs_dev"
        ),
    )


# ---------------------------------------------------------------------------
# Market share by supplier nation (new r6, TPC-H Q8 shape): for the ASIA
# region's customer market, each (order year, supplier nation)'s revenue
# and share of that year's market. The densest multi-join in the suite:
# lineitem <- orders <- customer <- nation <- region on one side,
# supplier <- nation on the other -- all dimension joins are broadcasts
# (fixed-cardinality dims); orders scales with the fact side and joins
# via shuffle. The per-(year, nation) aggregate is map-side combined to
# years x nations rows; the year total comes from a second tiny
# aggregate joined back (never a data-sized window).
#
# Determinism: revenue in fixed-point cents, share as ratio of exact
# integer sums.
# ---------------------------------------------------------------------------
@query(
    "market_share_by_nation",
    oracle="""
    WITH rev AS (
        SELECT CAST(YEAR(o.o_orderdate) AS INT) AS yr,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
                 AS rev_c,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        JOIN region r    ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'ASIA'
    ), per_nat AS (
        SELECT yr, supp_nation, SUM(rev_c) AS nat_c
        FROM rev GROUP BY yr, supp_nation
    ), per_yr AS (
        SELECT yr, SUM(nat_c) AS tot_c FROM per_nat GROUP BY yr
    )
    SELECT n.yr, n.supp_nation,
           n.nat_c/100.0 AS nation_revenue,
           y.tot_c/100.0 AS market_revenue,
           FLOOR((n.nat_c*1.0/y.tot_c)*1000000 + 0.5)/1000000.0 AS mkt_share
    FROM per_nat n JOIN per_yr y ON n.yr = y.yr
    """,
)
def market_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # customer-side dim chain collapses to a custkey set; supplier-side to
    # a (suppkey -> nation) map -- both broadcast, keeping lineitem's only
    # shuffle the equi join with orders (AQE picks the physical strategy)
    cust_asia = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_nat = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust_asia), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            rev_c.alias("rev_c"),
            "supp_nation",
        )
    )
    per_nat = rev.groupBy("yr", "supp_nation").agg(F.sum("rev_c").alias("nat_c"))
    per_yr = per_nat.groupBy("yr").agg(F.sum("nat_c").alias("tot_c"))
    return per_nat.join(F.broadcast(per_yr), "yr").select(
        "yr",
        "supp_nation",
        (F.col("nat_c") / 100.0).alias("nation_revenue"),
        (F.col("tot_c") / 100.0).alias("market_revenue"),
        (
            F.floor(F.col("nat_c") * 1.0 / F.col("tot_c") * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# RFM customer scoring (new r6): the classic recency/frequency/monetary
# segmentation — per customer, days since last order, order count and
# lifetime cents-exact spend, each bucketed into quintiles (ntile with
# the customer key as the deterministic tie-break), composed into the
# 3-digit RFM segment.
#
# Scale shape: one custkey-keyed aggregate over orders, then three
# exact quintile assignments via the range-partitioned two-pass rank
# (operators.relational.global_ntile) — exact NTILE semantics with no
# single-task window, parallel even if the customer relation itself
# grows fact-sized.
# ---------------------------------------------------------------------------
@query(
    "rfm_customer_scores",
    oracle="""
    WITH agg AS (
        SELECT o_custkey AS custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '2002-01-01')
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS monetary_c
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT custkey, recency_days, frequency, monetary_c,
               NTILE(5) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, custkey) AS f_score,
               NTILE(5) OVER (ORDER BY monetary_c, custkey) AS m_score
        FROM agg
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
           monetary_c/100.0 AS monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm_segment
    FROM scored
    """,
)
def rfm_customer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_c"
        ),
    )
    # exact quintiles over the customer-sized aggregate via the range-
    # partitioned two-pass rank (operators.relational.global_ntile) —
    # identical buckets to the window-function NTILE, but no
    # SinglePartition WindowExec pulling the whole relation to one task;
    # deterministic tie-break on the key
    base = agg.select(
        "custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        "frequency",
        "monetary_c",
    )
    scored = global_ntile(
        base, 5, [F.desc("recency_days"), F.col("custkey")], out="r_score"
    )
    scored = global_ntile(scored, 5, ["frequency", "custkey"], out="f_score")
    scored = global_ntile(scored, 5, ["monetary_c", "custkey"], out="m_score")
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        (F.col("monetary_c") / 100.0).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
            "rfm_segment"
        ),
    )


# ---------------------------------------------------------------------------
# Per-nation customer spend quartiles (new r8): lifetime cents-exact
# spend per customer, quartiled WITHIN each nation — the grouped-quantile
# segmentation shape (reference's sector-relative screens applied to the
# TPC-H star). Exercises global_ntile's PARTITION BY path in the driver
# gate: exact per-group NTILE(4) with no one-task-per-nation window, so
# a nation holding most of the corpus still ranks in parallel.
#
# Scale shape: one custkey-keyed aggregate over orders, broadcast nation
# dim join, then the range-partitioned two-pass rank on (nation, spend).
# ---------------------------------------------------------------------------
@query(
    "nation_spend_quartiles",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey AS custkey, n.n_name AS nation,
               SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS spend_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_custkey, n.n_name
    ), q AS (
        SELECT nation, spend_c,
               NTILE(4) OVER (PARTITION BY nation
                              ORDER BY spend_c, custkey) AS quartile
        FROM spend
    )
    SELECT nation, quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           MIN(spend_c)/100.0 AS lo_spend,
           MAX(spend_c)/100.0 AS hi_spend,
           SUM(spend_c)/100.0 AS total_spend
    FROM q GROUP BY nation, quartile
    """,
)
def nation_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "spend_c"
            )
        )
    )
    q = global_ntile(
        spend, 4, ["spend_c", "custkey"], partition_cols=["nation"], out="quartile"
    )
    return q.groupBy("nation", "quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.min("spend_c") / 100.0).alias("lo_spend"),
        (F.max("spend_c") / 100.0).alias("hi_spend"),
        (F.sum("spend_c") / 100.0).alias("total_spend"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram builder (new r6): the catalog-statistics op — a
# 10-bucket equi-depth histogram of order totals (bucket boundaries =
# interpolated decile values over cents-exact integers, per-bucket row
# counts from exact rank arithmetic). What ANALYZE TABLE computes for
# the optimizer's selectivity estimates.
#
# Scale shape: bucket membership comes from the range-partitioned
# two-pass exact rank (operators.relational.global_ntile) — NOT from a
# window-function NTILE, whose unpartitioned window would plan a
# SinglePartition WindowExec moving the whole ORDERS fact to one task.
# (Unpartitioned `orderBy()` SORTS are range-partitioned in Spark;
# unpartitioned WINDOW functions are not — r7 VERDICT finding.) The
# helper's shape: range exchange on (c, k) → per-slice counts →
# broadcast cumulative offsets → local row_number + offset → exact
# integer bucket arithmetic. Fully parallel at any fact size.
# ---------------------------------------------------------------------------
@query(
    "histogram_equi_depth",
    oracle="""
    WITH v AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
        WHERE o_totalprice IS NOT NULL
    ), b AS (
        SELECT k, c, NTILE(10) OVER (ORDER BY c, k) AS bucket FROM v
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(c)/100.0 AS lo,
           MAX(c)/100.0 AS hi,
           SUM(c)/100.0 AS bucket_mass
    FROM b GROUP BY bucket
    """,
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL prices are excluded from the value distribution on both
    # engines (ANALYZE-style statistics track null_count separately; a
    # NULL inside the rank order is engine-defined — Spark nulls-first
    # vs DuckDB nulls-last, r13 NULL-saturated sweep). No-op on clean data.
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    v = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    b = global_ntile(v, 10, ["c", "k"], out="bucket").select("c", "bucket")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.min("c") / 100.0).alias("lo"),
        (F.max("c") / 100.0).alias("hi"),
        (F.sum("c") / 100.0).alias("bucket_mass"),
    )


# ---------------------------------------------------------------------------
# Log-binned quantile sketch (new r8): the mergeable approximate-quantile
# profile a 100 TB pipeline runs instead of an exact percentile sort.
# Every cents value maps to its top-4-bits bucket lower bound (8
# buckets/octave, ~500 counters for all of int64; <= 1/8 = 12.5% relative
# value error by construction); bucket counts are one plain aggregate —
# mergeable across partitions, files, days, or streams — and each
# requested quantile is answered by the first bucket whose cumulative
# count crosses q*N, reported WITH its exactly-achieved rank so the
# approximation is accounted, not hidden (the ann_recall_audit
# convention). All binning is integer bit arithmetic (bin-string length +
# shifts, verified bit-identical in Spark and DuckDB) — no log()/pow() in
# the plan, so no cross-libm ulp risk on bucket boundaries.
#
# Scale shape: one scan + one ~500-key aggregate; the cumulative window
# runs on the bucket series (bounded by construction, constant partition
# key so no SinglePartition WindowExec); quantile picks are a broadcast
# cross against 5 target rows. Exact-percentile alternatives at this
# scale need a full sort (histogram_equi_depth's two-pass rank) — the
# sketch answers in one pass and composes incrementally.
# ---------------------------------------------------------------------------
@query(
    "quantile_sketch_order_values",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders
    ), b AS (
        SELECT {sk.o_logbin_lower_bound('v')} AS lb,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1
    ), cumb AS (
        SELECT lb, CAST(SUM(c) OVER (ORDER BY lb) AS BIGINT) AS cum FROM b
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v
    ), t AS (
        SELECT UNNEST([25, 50, 75, 90, 99]) AS qpct
    ), pick AS (
        SELECT qpct, MIN(lb) AS est_lb
        FROM cumb, n, t
        WHERE 100 * cum >= CAST(qpct AS BIGINT) * n
        GROUP BY qpct
    )
    SELECT p.qpct / 100.0 AS q,
           p.est_lb / 100.0 AS est_value,
           c.cum AS n_le,
           {o_round6('c.cum * 1.0 / n.n')} AS q_achieved
    FROM pick p JOIN cumb c ON c.lb = p.est_lb CROSS JOIN n
    """,
)
def quantile_sketch_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"))
    b = v.groupBy(sk.logbin_lower_bound("v").alias("lb")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # bucket series is <= ~500 rows by construction; constant non-foldable
    # partition key documents the bound and avoids the empty-spec window
    wcum = Window.partitionBy(F.pmod(F.col("lb"), F.lit(1))).orderBy("lb")
    cumb = b.select("lb", F.sum("c").over(wcum).alias("cum"))
    n = v.agg(F.count(F.lit(1)).alias("n"))
    targets = spark.createDataFrame([(25,), (50,), (75,), (90,), (99,)], "qpct int")
    cand = (
        cumb.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(targets))
        .filter(F.lit(100) * F.col("cum") >= F.col("qpct").cast("long") * F.col("n"))
    )
    pick = cand.groupBy("qpct").agg(F.min("lb").alias("est_lb"))
    return (
        pick.join(cumb, pick["est_lb"] == cumb["lb"])
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("qpct") / 100.0).alias("q"),
            (F.col("est_lb") / 100.0).alias("est_value"),
            F.col("cum").alias("n_le"),
            round6(F.col("cum") * 1.0 / F.col("n")).alias("q_achieved"),
        )
    )


# ---------------------------------------------------------------------------
# Nation trade balance (new r6): per nation, revenue earned as the
# supplier side vs spent as the customer side of the same lineitem
# flow, and the net balance — the two-role aggregation over the trade
# graph (the PageRank query's edge relation read as a balance sheet).
# Cents-exact unioned contributions, one uniform-key aggregate.
# ---------------------------------------------------------------------------
@query(
    "nation_trade_balance",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey AS cust_nation, s.s_nationkey AS supp_nation,
               CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
                 AS rev_c
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ), roles AS (
        SELECT supp_nation AS nationkey, rev_c, 0 AS spent_c FROM rev
        UNION ALL
        SELECT cust_nation, 0, rev_c FROM rev
    )
    SELECT n.n_name AS nation,
           SUM(r.rev_c)/100.0 AS earned,
           SUM(r.spent_c)/100.0 AS spent,
           (SUM(r.rev_c) - SUM(r.spent_c))/100.0 AS balance
    FROM roles r JOIN nation n ON r.nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("c_nationkey").alias("cust_nation"),
            F.col("s_nationkey").alias("supp_nation"),
            rev_c.alias("rev_c"),
        )
    )
    roles = rev.select(
        F.col("supp_nation").alias("nationkey"),
        F.col("rev_c"),
        F.lit(0).cast("long").alias("spent_c"),
    ).unionByName(
        rev.select(
            F.col("cust_nation").alias("nationkey"),
            F.lit(0).cast("long").alias("rev_c"),
            F.col("rev_c").alias("spent_c"),
        )
    )
    return (
        roles.join(F.broadcast(nation), roles.nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum("rev_c") / 100.0).alias("earned"),
            (F.sum("spent_c") / 100.0).alias("spent"),
            ((F.sum("rev_c") - F.sum("spent_c")) / 100.0).alias("balance"),
        )
    )


# ---------------------------------------------------------------------------
# Order cadence stats (new r6): per customer with ≥ 3 orders, the mean
# and max gap in days between consecutive orders plus the active span —
# the purchase-cadence profile (the orders-table twin of the panel gap
# report). Gaps are exact integer day differences; ties on the same
# date break by order key.
#
# Scale shape: one custkey-keyed ordered window + one custkey aggregate.
# ---------------------------------------------------------------------------
@query(
    "order_cadence_stats",
    oracle="""
    WITH seq AS (
        SELECT o_custkey AS custkey,
               date_diff('day',
                   CAST(LAG(o_orderdate) OVER w AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT custkey,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_orders,
           FLOOR((SUM(gap_d)*1.0 / COUNT(*))*1000000 + 0.5)/1000000.0 AS mean_gap_days,
           CAST(MAX(gap_d) AS BIGINT) AS max_gap_days,
           CAST(SUM(gap_d) AS BIGINT) AS span_days
    FROM seq WHERE gap_d IS NOT NULL
    GROUP BY custkey
    HAVING COUNT(*) >= 2
    """,
)
def order_cadence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).alias("gap_d"),
    ).filter(F.col("gap_d").isNotNull())
    n = F.count(F.lit(1))
    return (
        seq.groupBy("custkey")
        .agg(
            (n + 1).alias("n_orders"),
            (
                F.floor(F.sum("gap_d") * 1.0 / n * 1_000_000 + F.lit(0.5))
                / 1_000_000.0
            ).alias("mean_gap_days"),
            F.max("gap_d").alias("max_gap_days"),
            F.sum("gap_d").cast("long").alias("span_days"),
        )
        .filter(F.col("n_orders") >= 3)
    )


# ---------------------------------------------------------------------------
# Supplier concentration by part type (new r6): per p_type, the HHI of
# supplier revenue shares and the top supplier's share — the
# supply-chain-risk twin of market_concentration_daily. Shares are
# exact cents ratios; HHI accumulates 1e-12-quantized share² integers.
#
# Scale shape: lineitem⋈part equi shuffle (part scales with data, no
# hint), (type, supplier) aggregate, type-keyed collapse.
# ---------------------------------------------------------------------------
@query(
    "supplier_concentration_by_type",
    oracle="""
    WITH rev AS (
        SELECT p.p_type, l.l_suppkey,
               SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                   AS BIGINT)) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type, l.l_suppkey
    ), tot AS (
        SELECT p_type, CAST(SUM(rev_c) AS BIGINT) AS t FROM rev GROUP BY p_type
    )
    SELECT r.p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           FLOOR((SUM(CAST(ROUND((r.rev_c*1.0/t.t)*(r.rev_c*1.0/t.t)*1000000000000, 0)
                 AS BIGINT))/1000000000000.0)*1000000 + 0.5)/1000000.0 AS hhi,
           FLOOR((MAX(r.rev_c)*1.0/MAX(t.t))*1000000 + 0.5)/1000000.0 AS top_share
    FROM rev r JOIN tot t ON r.p_type = t.p_type
    GROUP BY r.p_type
    """,
)
def supplier_concentration_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("p_type", "l_suppkey", rev_c.alias("rc"))
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("rc").alias("rev_c"))
    )
    tot = rev.groupBy("p_type").agg(F.sum("rev_c").alias("t"))
    share = F.col("rev_c") * 1.0 / F.col("t")
    hhi_term = F.round(share * share * F.lit(1_000_000_000_000.0), 0).cast("long")
    j = rev.join(F.broadcast(tot), "p_type")
    return j.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (
            F.floor(
                F.sum(hhi_term) / 1_000_000_000_000.0 * 1_000_000 + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("hhi"),
        (
            F.floor(
                F.max("rev_c") * 1.0 / F.max("t") * 1_000_000 + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# CUBE rollup (new r6): revenue and order counts over ALL subsets of
# (nation, segment) — the cube completing the rollup/grouping-sets
# family (`rollup_priority_status`, `grouping_sets_priority_status`).
# GROUPING() flags disambiguate NULL group keys from NULL data, CAST to
# INT on both engines.
#
# Scale shape: one custkey equi join + one cube aggregate (Spark
# expands the grouping sets map-side; output is Σ|subset| bounded).
# ---------------------------------------------------------------------------
@query(
    "cube_nation_segment",
    oracle="""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           CAST(GROUPING(n.n_name) AS INT) AS g_nation,
           CAST(GROUPING(c.c_mktsegment) AS INT) AS g_segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o.o_totalprice*100,0) AS BIGINT))/100.0 AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (n.n_name, c.c_mktsegment)
    -- Spark emits NO grouping-set rows over an empty relation (the SQL
    -- standard and DuckDB emit the () grand-total row with COUNT 0);
    -- the operator contract here is Spark's — pinned by dropping
    -- DuckDB's empty-input grand-total row (r12 empty-input sweep)
    HAVING COUNT(*) > 0
    """,
)
def cube_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_c"),
        )
    )
    return j.cube("nation", "segment").agg(
        F.grouping("nation").cast("int").alias("g_nation"),
        F.grouping("segment").cast("int").alias("g_segment"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("price_c") / 100.0).alias("revenue"),
    ).select("nation", "segment", "g_nation", "g_segment", "n_orders", "revenue")


# ---------------------------------------------------------------------------
# SQL-interface surface (new r6): the same engine driven through
# `spark.sql` over registered temp views instead of the DataFrame API —
# the entry path a SQL-first user of the reference would take. The
# query itself is a representative multi-join aggregate; Catalyst
# compiles both surfaces to the same plan, and the oracle binds the
# result exactly like every DataFrame query.
# ---------------------------------------------------------------------------
@query(
    "sql_interface_revenue",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*100,0) AS BIGINT))/100.0
             AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c.c_mktsegment
    """,
)
def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # register session-scoped views (idempotent) and drive via pure SQL
    for t in ("lineitem", "orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__sql_{t}")
    return spark.sql(
        """
        SELECT c.c_mktsegment AS segment,
               COUNT(DISTINCT o.o_orderkey) AS n_orders,
               -- SQL-string surface: the bare 100.0 literal is DECIMAL in
               -- Spark SQL (unlike the Column API), so the quotient must
               -- be cast back to DOUBLE for the driver's schema hash
               CAST(SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*100,0) AS BIGINT))/100.0
                 AS DOUBLE) AS revenue
        FROM __sql_lineitem l
        JOIN __sql_orders o   ON l.l_orderkey = o.o_orderkey
        JOIN __sql_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY c.c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# Small-quantity order revenue (new r7) — TPC-H Q17 shape: a correlated
# scalar subquery (per-part average quantity) decorrelated into an
# aggregate + equi join, per brand. The reference expresses this class
# as nested f-string SQL over ClickHouse (`QuantDB.py` screener
# subqueries); Spark-first it is a groupBy + join Catalyst can
# broadcast, never a per-row subquery.
#
# Scale shape: the per-part average is part-cardinality (≪ fact) and
# AQE broadcasts it back onto the fact scan; one fact shuffle total for
# the final brand rollup. l_quantity is integral (1..50), so sums and
# the 0.4×avg threshold are exact on both engines.
# ---------------------------------------------------------------------------
@query(
    "small_qty_order_revenue",
    oracle=f"""
    WITH pa AS (
        SELECT l_partkey, SUM(l_quantity) / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST({o_sum_fixed('l.l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN pa ON pa.l_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < CAST(0.4 AS DOUBLE) * pa.avg_qty
    GROUP BY p.p_brand
    """,
)
def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            (sum_fixed("l_extendedprice") / 7.0).alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# Sole problem supplier (new r7) — TPC-H Q21 shape: multi-EXISTS /
# NOT-EXISTS correlation ("suppliers whose lineitems were the ONLY
# returned ones in a multi-supplier order") rewritten as one per-order
# aggregate: distinct-supplier count, distinct returning-supplier
# count, and MIN over the returning suppliers (which IS the supplier
# when exactly one returns). No self-join of the fact against itself —
# the classic EXISTS rewrite scans lineitem three times; this scans it
# once and shuffles on the natural l_orderkey key. The distinct counts
# are computed as a TWO-LEVEL aggregate ((order, supplier) pre-agg,
# then per-order counts) instead of two countDistinct()s — multiple
# distinct aggregates plan an Expand that triples the fact scan
# (measured 55 s -> two-level form at the 100x sweep).
# ---------------------------------------------------------------------------
@query(
    "sole_problem_supplier",
    oracle="""
    WITH per AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS ns,
               COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nr,
               MIN(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS r_supp
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.s_name, n.n_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per
    JOIN supplier s ON s.s_suppkey = per.r_supp
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE per.ns >= 2 AND per.nr = 1
    GROUP BY s.s_name, n.n_name
    """,
)
def sole_problem_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r")
    )
    per = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("has_r").alias("nr"),
        F.min(F.when(F.col("has_r") == 1, F.col("l_suppkey"))).alias("r_supp"),
    )
    return (
        per.filter((F.col("ns") >= 2) & (F.col("nr") == 1))
        .join(F.broadcast(s), F.col("r_supp") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Idle high-balance customers (new r7) — TPC-H Q22 shape: a global
# scalar aggregate (average positive account balance) gating an
# anti join ("rich customers with no urgent order"), rolled up by
# nation. The scalar is a 1-row broadcast crossJoin; the anti join is
# a broadcast-able LeftAnti on the filtered (urgent-only) order keys.
# ---------------------------------------------------------------------------
@query(
    "idle_high_balance_customers",
    oracle=f"""
    WITH avg_bal AS (
        SELECT {o_sum_fixed('c_acctbal')} / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           {o_sum_fixed('c.c_acctbal')} AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((sum_fixed("c_acctbal") / F.count(F.lit(1))).alias("__ab"))
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            sum_fixed("c_acctbal").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Dominant supplier per part (new r7) — TPC-H Q20 shape: a correlated
# quantity-threshold subquery ("suppliers holding an outsized share of
# a part's shipped volume") decorrelated into two aggregates joined on
# the part key, rolled up per supplier. Shares are compared against
# 20% of the part total among parts with >=2 suppliers (the classic
# 50% threshold is degenerate on this uniformly-spread testdata — 100
# suppliers split every part nearly evenly).
#
# Scale shape: both aggregates shuffle on l_partkey (the finer one
# reuses the exchange under AQE); quantities are integral so shares
# are exact.
# ---------------------------------------------------------------------------
@query(
    "dominant_supplier_parts",
    oracle="""
    WITH tot AS (
        SELECT l_partkey, SUM(l_quantity) AS tq,
               COUNT(DISTINCT l_suppkey) AS ns
        FROM lineitem GROUP BY l_partkey
    ), per AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts,
           CAST(SUM(per.sq) AS BIGINT) AS dominated_qty
    FROM per
    JOIN tot ON tot.l_partkey = per.l_partkey
    JOIN supplier s ON s.s_suppkey = per.l_suppkey
    WHERE tot.ns >= 2 AND per.sq > CAST(0.2 AS DOUBLE) * tot.tq
    GROUP BY s.s_name
    """,
)
def dominant_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    tot = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("tq"),
        F.countDistinct("l_suppkey").alias("ns"),
    )
    per = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    return (
        per.join(tot, "l_partkey")
        .filter((F.col("ns") >= 2) & (F.col("sq") > 0.2 * F.col("tq")))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominated_parts"),
            F.sum("sq").cast("long").alias("dominated_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Min-unit-cost supplier per part (new r7) — TPC-H Q2 shape: a
# correlated MIN subquery ("the supplier offering this part cheapest")
# decorrelated into a per-(part, supplier) aggregate, a per-part MIN,
# and an equality join back. Unit cost = cents(extendedprice)/quantity,
# both exact integer sums, so the MIN and the equality carry identical
# doubles on both engines (one division each side).
#
# Scale shape: both aggregates key on l_partkey and share the exchange
# under AQE; the min side is part-cardinality and broadcasts back.
# ---------------------------------------------------------------------------
@query(
    "min_unit_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents,
               CAST(SUM(l_quantity) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), cost AS (
        SELECT l_partkey, l_suppkey, cents * 1.0 / qty / 100.0 AS unit_cost
        FROM ps
    ), m AS (
        SELECT l_partkey, MIN(unit_cost) AS mc FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey, s.s_name,
           FLOOR(c.unit_cost * 1000000 + 0.5) / 1000000.0 AS unit_cost
    FROM cost c
    JOIN m ON m.l_partkey = c.l_partkey AND c.unit_cost = m.mc
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    """,
)
def min_unit_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
        F.sum("l_quantity").cast("long").alias("qty"),
    )
    cost = ps.select(
        "l_partkey",
        "l_suppkey",
        (F.col("cents") * 1.0 / F.col("qty") / 100.0).alias("unit_cost"),
    )
    m = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("mc"))
    return (
        cost.join(m, "l_partkey")
        .filter(F.col("unit_cost") == F.col("mc"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey",
            "s_name",
            (F.floor(F.col("unit_cost") * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
                "unit_cost"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Top-value parts (new r7) — TPC-H Q11 shape: a scalar subquery in the
# HAVING clause ("parts whose stocked value exceeds a fraction of the
# GLOBAL total") decorrelated into a 1-row broadcast crossJoin against
# the per-part aggregate. Cents-exact on both engines.
# ---------------------------------------------------------------------------
@query(
    "top_value_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                    AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n FROM pv
    )
    -- scale-free threshold: value > 1.5x the MEAN part value (a fixed
    -- fraction-of-total is degenerate when part count is below 1/frac)
    SELECT pv.l_partkey, pv.cents / 100.0 AS part_value
    FROM pv, tot
    WHERE pv.cents * tot.n * 1.0 > 1.5 * tot.t
    """,
)
def top_value_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
                "long"
            )
        ).alias("cents")
    )
    tot = pv.agg(F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("cents") * F.col("n") * 1.0 > 1.5 * F.col("t"))
        .select("l_partkey", (F.col("cents") / 100.0).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Top revenue supplier (new r7) — TPC-H Q15 shape: a revenue "view"
# over a shipdate quarter, then the supplier(s) achieving the MAX
# (equality against a 1-row aggregate, not a LIMIT — ties must all
# surface). Cents-exact, so the max-equality is deterministic.
# ---------------------------------------------------------------------------
@query(
    "top_revenue_supplier_quarter",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                    AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    ), mx AS (SELECT MAX(cents) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, rev.cents / 100.0 AS total_revenue
    FROM rev, mx
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.cents = mx.m
    """,
)
def top_revenue_supplier_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("long")
            ).alias("cents")
        )
    )
    mx = rev.agg(F.max("cents").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("cents") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", (F.col("cents") / 100.0).alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Gini revenue concentration (new r7): per nation, the Gini coefficient
# of customer order revenue — the inequality statistic behind
# "whale-customer" risk reports, computed with the rank formula
#     G = 2*sum(i * x_(i)) / (n * sum(x)) - (n + 1) / n
# over cents-exact revenues sorted ascending with a custkey tiebreak
# (ties make the rank form order-dependent; the tiebreak pins both
# engines to the same permutation, and the formula itself is
# tie-invariant since equal x swap freely).
#
# Scale shape: custkey aggregate, then a NATION-partitioned rank window
# and one integer-moment aggregate per nation — no global sort. The
# rank moment sum(i*cents) grows as n² x mean-cents and exits int64
# around ~14k customers/nation at these magnitudes, so it is summed as
# a hi/lo 2^20 split: each partial sum stays an exact int64, and the
# recombine (hi*2^20 + lo) is one identical double expression on both
# engines — order-independent by construction, unlike a raw double sum.
# ---------------------------------------------------------------------------
@query(
    "gini_revenue_by_nation",
    oracle="""
    WITH cust AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    ), ranked AS (
        SELECT c_nationkey, cents,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY cents, o_custkey) AS i
        FROM cust
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS total_revenue,
           FLOOR((2.0 * (CAST(SUM(i * (cents // 1048576)) AS BIGINT) * 1048576.0
                         + CAST(SUM(i * (cents % 1048576)) AS BIGINT))
                  / (COUNT(*) * 1.0 * CAST(SUM(cents) AS BIGINT))
                  - (COUNT(*) + 1.0) / COUNT(*)) * 1000000 + 0.5) / 1000000.0
             AS gini
    FROM ranked GROUP BY c_nationkey
    """,
)
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = cust.select(
        "c_nationkey", "cents", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    sx = F.sum("cents")
    six = (
        F.sum(F.col("i") * F.floor(F.col("cents") / 1_048_576).cast("long"))
        * 1_048_576.0
        + F.sum(F.col("i") * (F.col("cents") % 1_048_576))
    )
    return ranked.groupBy("c_nationkey").agg(
        n.alias("n_customers"),
        (sx / 100.0).alias("total_revenue"),
        (
            F.floor(
                (2.0 * six / (n * 1.0 * sx) - (n + 1.0) / n) * 1_000_000 + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Quantity-weighted median unit price per brand (new r7): Spark has no
# native weighted percentile, so the operator is built from first
# principles — sort by unit price inside each brand, run an exact
# integer cumulative weight, and pick the first row where
# 2*cumweight >= totalweight (the lower weighted median). Ties in unit
# price are pinned by the (orderkey, linenumber) unique key so both
# engines walk the same permutation.
#
# Scale shape: one brand-partitioned sort window + one aggregate — the
# same shape as any grouped rank, no global sort, no collect.
# ---------------------------------------------------------------------------
@query(
    "weighted_median_unit_price",
    oracle="""
    WITH u AS (
        SELECT p.p_brand, l.l_orderkey, l.l_linenumber,
               l.l_extendedprice / l.l_quantity AS up,
               CAST(l.l_quantity AS BIGINT) AS w
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity IS NOT NULL AND l.l_extendedprice IS NOT NULL
    ), c AS (
        SELECT p_brand, up, w,
               CAST(SUM(w) OVER (PARTITION BY p_brand
                    ORDER BY up, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cw,
               CAST(SUM(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tw
        FROM u
    ), pick AS (
        SELECT p_brand, up, tw,
               ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY cw) AS rn
        FROM c WHERE 2 * cw >= tw
    )
    SELECT p_brand, CAST(tw AS BIGINT) AS total_qty,
           FLOOR(up * 1000000 + 0.5) / 1000000.0 AS weighted_median_price
    FROM pick WHERE rn = 1
    """,
)
def weighted_median_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a line with a NULL quantity or price has no defined unit price or
    # weight — excluded on both engines before the cumulative-weight
    # walk (a NULL `up` sorts nulls-first in Spark, nulls-last in
    # DuckDB, shifting the median pick; r13 NULL-saturated sweep).
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    u = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).select(
        "p_brand",
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    ws = (
        Window.partitionBy("p_brand")
        .orderBy("up", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("p_brand").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = u.select(
        "p_brand",
        "up",
        F.sum("w").over(ws).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    ).filter(2 * F.col("cw") >= F.col("tw"))
    pick = Window.partitionBy("p_brand").orderBy("cw")
    return (
        c.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("tw").alias("total_qty"),
            (F.floor(F.col("up") * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
                "weighted_median_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Join-skew audit report (new r7): the pre-flight measurement an
# engineer runs BEFORE keying a 100 TB shuffle — per candidate join key
# of the fact table, the row count, distinct-key count, heaviest key's
# share, and the max/avg skew factor, plus the top-3 heavy keys (flat
# string, driver-hashable). A skew factor near 1 means hash partitions
# balance; a large one calls for salting or AQE skew-join.
#
# Scale shape: one aggregate per audited key (each a uniform-key
# shuffle) over ONE narrow projection of the fact, then a
# per-key TakeOrderedAndProject for the top-3 — never a rank window
# partitioned only by key_col, which funnels every key count (15M rows
# for l_orderkey at the 100x sweep) through a single task (measured
# 39.8 s -> this form).
# ---------------------------------------------------------------------------
@query(
    "join_skew_report",
    oracle="""
    WITH keys AS (
        SELECT 'l_partkey' AS key_col, l_partkey AS k FROM lineitem
        UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
        UNION ALL SELECT 'l_orderkey', l_orderkey FROM lineitem
    ), per AS (
        SELECT key_col, k, CAST(COUNT(*) AS BIGINT) AS c
        FROM keys GROUP BY key_col, k
    ), ranked AS (
        SELECT key_col, k, c,
               ROW_NUMBER() OVER (PARTITION BY key_col ORDER BY c DESC, k) AS rn
        FROM per
    )
    SELECT key_col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           FLOOR(MAX(c) * COUNT(*) * 1.0 / SUM(c) * 1000000 + 0.5) / 1000000.0
             AS skew_factor,
           string_agg(CASE WHEN rn <= 3 THEN CAST(k AS VARCHAR) END, ','
                      ORDER BY rn) AS top3_keys
    FROM ranked GROUP BY key_col
    """,
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ("l_partkey", "l_suppkey", "l_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    outs = []
    for c in cols:
        per = li.groupBy(F.col(c).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        stats = per.agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_key_rows"),
        )
        # TakeOrderedAndProject: per-partition top-3, never a global rank
        top3 = (
            per.orderBy(F.desc("c"), "k")
            .limit(3)
            .agg(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(-F.col("c"), F.col("k")))
                        ),
                        lambda s: s["k"].cast("string"),
                    ),
                ).alias("top3_keys")
            )
        )
        outs.append(
            # filter: a global aggregate over ZERO rows still emits its
            # one all-NULL row, but the oracle's GROUP BY emits none —
            # drop it so both engines report nothing for an empty fact
            # (r12 empty-input sweep)
            stats.filter(F.col("n_rows").isNotNull())
            .crossJoin(F.broadcast(top3))
            .select(
                F.lit(c).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                (
                    F.floor(
                        F.col("max_key_rows") * F.col("n_keys") * 1.0
                        / F.col("n_rows") * 1_000_000
                        + F.lit(0.5)
                    )
                    / 1_000_000.0
                ).alias("skew_factor"),
                "top3_keys",
            )
        )
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


# ---------------------------------------------------------------------------
# Kaplan-Meier ship-time survival curve (new r7): S(t) for the days
# from order placement to FIRST shipment, with two real censoring
# mechanisms — orders with no lineitems at all (right-censored: the
# event was never observed) and administrative censoring at 365 days
# (events past the horizon count as "still waiting at 365"). Orders
# whose first shipment predates the order (synthetic-data noise) are
# excluded. The estimator is the classic product-limit form
#   S(t) = prod_{t_i <= t} (1 - d_i / n_i)
# with d_i = events at day t_i and n_i = at-risk (event or censor time
# >= t_i).
#
# Determinism: d and n are exact integer cumulative sums; the product
# runs as exp(sum(ln(factor))) on Spark vs native windowed product()
# in DuckDB (the rolling_product convention) with 6-dp rounding.
#
# Scale shape: one per-order aggregate (fact-keyed shuffle), then the
# curve math runs on <= 366 day-grain rows (horizon-bounded, never
# fact-sized) — the unpartitioned windows are over that tiny series.
# ---------------------------------------------------------------------------
@query(
    "kaplan_meier_ship_times",
    oracle="""
    WITH fs AS (
        SELECT l_orderkey, MIN(l_shipdate) AS ms
        FROM lineitem GROUP BY l_orderkey
    ), obs AS (
        SELECT o.o_orderkey,
               CASE WHEN fs.ms IS NULL THEN 365
                    ELSE LEAST(CAST(datediff('day', o.o_orderdate, fs.ms) AS BIGINT), 365)
               END AS t_obs,
               fs.ms IS NOT NULL
                   AND datediff('day', o.o_orderdate, fs.ms) <= 365 AS ev
        FROM orders o LEFT JOIN fs ON fs.l_orderkey = o.o_orderkey
        WHERE fs.ms IS NULL OR fs.ms >= o.o_orderdate
    ), times AS (
        SELECT t_obs AS t,
               CAST(count_if(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leave
        FROM obs GROUP BY t_obs
    ), risk AS (
        SELECT t, d,
               CAST((SELECT COUNT(*) FROM obs) AS BIGINT)
                 - CAST(COALESCE(SUM(leave) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS n_risk
        FROM times
    ), km AS (
        SELECT t, d, n_risk,
               product(1.0 - d * 1.0 / n_risk) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days, d AS n_events, n_risk,
           FLOOR(s * 1000000 + 0.5) / 1000000.0 AS survival
    FROM km WHERE d > 0
    """,
)
def kaplan_meier_ship_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ms"))
    lag = F.datediff(F.col("ms"), F.col("o_orderdate")).cast("long")
    obs = (
        o.join(fs, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .filter(F.col("ms").isNull() | (F.col("ms") >= F.col("o_orderdate")))
        .select(
            F.when(F.col("ms").isNull(), F.lit(365))
            .otherwise(F.least(lag, F.lit(365)))
            .alias("t_obs"),
            (F.col("ms").isNotNull() & (lag <= 365)).alias("ev"),
        )
    )
    times = obs.groupBy(F.col("t_obs").alias("t")).agg(
        F.count_if(F.col("ev")).alias("d"),
        F.count(F.lit(1)).alias("leave"),
    )
    total = obs.agg(F.count(F.lit(1)).alias("__n"))
    # <=366 day-grain rows: the unpartitioned windows run on the tiny
    # horizon-bounded series, never on the fact table
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = times.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (F.col("__n") - F.coalesce(F.sum("leave").over(wprev), F.lit(0))).alias(
            "n_risk"
        ),
    )
    # Zero-factor guard: when d == n_risk at some event time the survival
    # factor is exactly 0 and the curve must stay 0 from there on. Spark's
    # ln(0) returns NULL and F.sum skips NULLs, so the exp-sum form would
    # silently yield a nonzero survival where DuckDB's native product()
    # (and the textbook estimator) give exactly 0 — count zero factors in
    # the cumulative window and force s = 0 whenever one has occurred.
    km = risk.withColumn(
        "__n_zero",
        F.sum(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)).over(wcum),
    ).withColumn(
        "s",
        F.when(F.col("__n_zero") > 0, F.lit(0.0)).otherwise(
            F.exp(F.sum(F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk"))).over(wcum))
        ),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("t_days"),
        F.col("d").alias("n_events"),
        "n_risk",
        (F.floor(F.col("s") * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands run-length encoding (new r8): collapse each customer's
# order history into maximal runs of consecutive orders sharing the same
# priority — the SCD2-style interval build / regime detection idiom every
# warehouse needs (state change tracking, validity intervals, streak
# mining). The classic two-rank difference: rn_overall - rn_within_value
# is constant exactly along a run, so grouping on it reconstructs the
# islands without any self-join or iteration.
#
# Scale shape: two window functions over ONE custkey-keyed sort (same
# partition spec -> one WindowExec, one exchange), then a (custkey, grp)
# aggregate that reuses the same clustering. No fact-sized self-join.
# ---------------------------------------------------------------------------
@query(
    "order_priority_runs",
    oracle="""
    WITH seq AS (
        SELECT o_custkey AS custkey, o_orderpriority AS priority,
               o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
             - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                                  ORDER BY o_orderdate, o_orderkey) AS grp
        FROM orders
    ), runs AS (
        SELECT custkey, priority,
               MIN(o_orderdate) AS run_start, MAX(o_orderdate) AS run_end,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM seq GROUP BY custkey, priority, grp
    )
    SELECT custkey, priority, run_start, run_end, n_orders
    FROM runs WHERE n_orders >= 3
    """,
)
def order_priority_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "o_orderdate",
        "o_orderkey",
    )
    w_all = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
    w_val = Window.partitionBy("custkey", "priority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = o.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_val)
    )
    runs = seq.groupBy("custkey", "priority", "grp").agg(
        F.min("o_orderdate").alias("run_start"),
        F.max("o_orderdate").alias("run_end"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return runs.filter(F.col("n_orders") >= 3).select(
        "custkey", "priority", "run_start", "run_end", "n_orders"
    )
