"""Advanced relational operators the reference's engine gets "for free"
from ClickHouse storage/SQL features, plus the scale-native extensions a
Spark engine needs where no built-in operator exists:

- backward AS-OF join (latest bar/quote at or before an event) — the
  quant join ClickHouse spells `argMax` + scalar max-date subqueries
  (`app/Quantlib/QuantDB.py:358-369`), pandas spells `merge_asof`;
- pure band/range self-join with no equi key (binned, never cartesian);
- ReplacingMergeTree FINAL semantics (`database/ddl/quant_db_ddl.md:81-85`
  keys meta tables on code with updated_at versions);
- PIVOT to a date × category wide matrix (the Streamlit heatmap pages
  pivot client-side in pandas, `app/Quantlib/pages/4_Sector heatmap.py`);
- ROLLUP subtotal lattice;
- KMV distinct sketch (deterministic, oracle-checkable to the bit);
- incremental rollup maintenance: merging partial aggregates instead of
  recomputing — the batch analogue of a hypertable continuous aggregate
  (the reference's nightly factor jobs recompute affected partitions,
  `Project report.md:741-781`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import trunc_ntz_second
from ..operators.relational import asof_join, band_self_join, latest_row_per_key


def _round_half_up_jvm(x: float) -> int:
    """Exactly F.round(x, 0).cast('long') for non-negative doubles.

    Spark's Round on DoubleType goes BigDecimal.valueOf(x) — i.e. the
    SHORTEST decimal repr of the double — then HALF_UP. Python's
    repr(float) is the same shortest repr, so Decimal(repr(x)) with
    ROUND_HALF_UP reproduces the JVM result bit-for-bit (a plain
    floor(x + 0.5) diverges one ulp below .5 boundaries, e.g.
    0.49999999999999994 + 0.5 == 1.0 in binary)."""
    import decimal as _dec

    return int(
        _dec.Decimal(repr(x)).quantize(_dec.Decimal(1), rounding=_dec.ROUND_HALF_UP)
    )
from ..pipeline.sketches import kmv_distinct_estimate, o_kmv_distinct_estimate
from ..sources.catalog import load_table
from .registry import o_sum_fixed, query, sum_fixed


# ---------------------------------------------------------------------------
# Backward AS-OF join. Each event gets a deterministic pseudo trade-date
# inside the orders date range (the synthetic events table spans one
# month; the modulo mapping spreads events across 1995–2001 so the
# backward search actually varies per row), then picks the most recent
# per-customer daily order total at or before that date. The right side
# is pre-aggregated to one row per (cust, date) so the as-of match is
# unique. LEFT semantics: users without a prior order keep NULLs.
# ---------------------------------------------------------------------------
@query(
    "asof_join_latest_order",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id,
             DATE '1995-01-01' + INTERVAL (event_id % 2400) DAY AS evt_date
      FROM events
    ), day_orders AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
             {o_sum_fixed('o_totalprice')} AS day_total
      FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    )
    SELECT ev.event_id, ev.user_id, CAST(ev.evt_date AS DATE) AS evt_date,
           CAST(d.od AS DATE) AS asof_time, d.day_total AS asof_day_total
    FROM ev ASOF LEFT JOIN day_orders d
      ON ev.user_id = d.o_custkey AND ev.evt_date >= d.od
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_add(F.lit("1995-01-01").cast("date"), (F.col("event_id") % 2400).cast("int")).alias(
            "evt_date"
        ),
    )
    day_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate").cast("date").alias("od")
        )
        .agg(sum_fixed("o_totalprice").alias("day_total"))
    )
    out = asof_join(
        events,
        day_orders,
        on="user_id",
        left_time="evt_date",
        right_time="od",
        payload=["day_total"],
    )
    return out.select(
        "event_id",
        "user_id",
        "evt_date",
        F.col("asof_time").cast("date").alias("asof_time"),
        F.col("asof_day_total").alias("asof_day_total"),
    )


# ---------------------------------------------------------------------------
# Pure band join (no equi key): part pairs within ±0.1 of each other's
# retail price. The binned plan is a hash join on floor(price/band) with
# a 3-bucket probe — never a cartesian (the naive form Spark would plan
# for a bare inequality join is BroadcastNestedLoopJoin).
# ---------------------------------------------------------------------------
@query(
    "range_join_price_band",
    oracle="""
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           ABS(a.p_retailprice - b.p_retailprice) AS abs_diff
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND ABS(a.p_retailprice - b.p_retailprice) <= 0.1
    """,
)
def range_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    pairs = band_self_join(part, key="p_partkey", value="p_retailprice", band=0.1)
    return pairs.select(
        "a_key", "b_key", F.abs(F.col("a_val") - F.col("b_val")).alias("abs_diff")
    )


# ---------------------------------------------------------------------------
# ReplacingMergeTree FINAL: newest event per user (version = ts, tie-break
# event_id). ts is truncated to seconds on both sides (Spark reads the
# NANOS parquet column at µs precision, DuckDB at ns).
# ---------------------------------------------------------------------------
@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, date_trunc('second', ts) AS last_ts, event_type, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    latest = latest_row_per_key(
        events, key=["user_id"], version=[F.col("ts"), F.col("event_id")]
    )
    return latest.select(
        "user_id",
        # truncate WITHOUT leaving the NTZ domain: date_trunc promotes to
        # the instant type and the round-trip through the session zone
        # shifts naive timestamps that fall in a DST gap (r12 ADVICE)
        trunc_ntz_second(F.col("ts")).alias("last_ts"),
        "event_type",
        "value"
    )


# ---------------------------------------------------------------------------
# PIVOT: day × event_type matrix of fixed-point value sums. The pivot
# value list is explicit — at scale an implicit pivot launches an extra
# distinct job over the full table just to learn the columns.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_event_matrix",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           {', '.join(o_sum_fixed(f"CASE WHEN event_type = '{t}' THEN value END") + f' AS evt_{t}' for t in _EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.withColumn("day", F.col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(sum_fixed("value"))
    )
    return wide.select("day", *[F.col(t).alias(f"evt_{t}") for t in _EVENT_TYPES])


# ---------------------------------------------------------------------------
# ROLLUP subtotal lattice over orders: (priority, status) → priority →
# grand total, with an explicit grouping level. One shuffle: Spark plans
# rollup as a single Expand + hash aggregate, not three scans.
# ---------------------------------------------------------------------------
@query(
    "rollup_priority_status",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           {o_sum_fixed('o_totalprice')} AS total_amount
    FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    -- Spark emits NO grouping-set rows over an empty relation (the SQL
    -- standard and DuckDB emit the () grand-total row with COUNT 0);
    -- the operator contract here is Spark's — subtotal rows exist only
    -- for non-empty slices — pinned by dropping DuckDB's empty-input
    -- grand-total row (r12 empty-input sweep)
    HAVING COUNT(*) > 0
    """,
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("order_cnt"),
        sum_fixed("o_totalprice").alias("total_amount"),
    )


# ---------------------------------------------------------------------------
# Custom GROUPING SETS — independent subtotal axes ((priority), (status)),
# NOT the rollup lattice: one Expand + single aggregate, no double scan.
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_priority_status",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           {o_sum_fixed('o_totalprice')} AS total_amount
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
)
def grouping_sets_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"]],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("order_cnt"),
        sum_fixed("o_totalprice").alias("total_amount"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch: per-event-type distinct-user estimate. Fully
# deterministic (md5-based hash, exact 52-bit integer minima), so the
# ESTIMATE itself is oracle-checked — not merely "close to exact".
# ---------------------------------------------------------------------------
@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH est AS ({o_kmv_distinct_estimate('events', 'event_type', 'user_id', k=64)}),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT est.event_type, est.kmv_k, est.kmv_estimate, ex.exact_distinct
    FROM est JOIN ex USING (event_type)
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    est = kmv_distinct_estimate(events, group="event_type", element="user_id", k=64)
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, on="event_type")


# ---------------------------------------------------------------------------
# Sliding (overlapping) event-time windows, batch form of the streaming
# operator (streaming/tick_bars.py sliding_type_stats): 10-minute
# windows every 5 minutes — each event expands into exactly size/slide
# = 2 window memberships at the source (F.window), no self-join. The
# oracle expands the same two candidate window starts per event.
# ---------------------------------------------------------------------------
@query(
    "sliding_window_stats",
    oracle="""
    WITH expanded AS (
        SELECT event_type, value,
               UNNEST([
                 CAST(to_timestamp(FLOOR(epoch(ts) / 300) * 300) AS TIMESTAMP),
                 CAST(to_timestamp(FLOOR(epoch(ts) / 300) * 300 - 300) AS TIMESTAMP)
               ]) AS win_start
        FROM events
    )
    SELECT event_type, win_start, win_start + INTERVAL 10 MINUTE AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value*100,0) AS BIGINT))/100.0 AS value_total
    FROM expanded
    GROUP BY event_type, win_start
    """,
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.tick_bars import sliding_type_stats

    events = load_table(spark, sf_dir, "events")
    return sliding_type_stats(events)


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) similarity join: part-name pairs within
# levenshtein ≤ 3. Round-4 blocked on brand alone (25 distinct values →
# candidate pairs O(n²/25): ~7.7M DP probes at sf0.1, ~10¹¹ at 100× —
# the round-4 scale-killer). The scale-safe form factors the expensive
# relation through the DISTINCT-NAME domain:
#
#   1. names = DISTINCT p_name — grows with vocabulary, not row count.
#   2. The edit-distance relation is computed ONCE on name pairs,
#      blocked on a width-4 length bucket IN the join key (sound:
#      |Δlen| ≤ dist bounds edit distance, so |Δlen| ≤ 3 ⟹ |Δbucket| ≤ 1
#      and replicating one side to {b−1,b,b+1} meets every qualifying
#      ordered pair on exactly one composite key). DP probes = O(D²/buckets)
#      where D = |distinct names| — independent of table size.
#   3. Row pairs are reconstituted by two hash joins on
#      (name) and (brand, name) — pure equi joins whose output is the
#      answer itself, never a superset to verify.
#
# At 100 TB the name-pair relation stays small while the expansion joins
# shuffle on keys whose cardinality grows with data (brand × name); the
# only quadratic term left is the OUTPUT (duplicate names form cliques),
# which no exact algorithm can avoid.
# ---------------------------------------------------------------------------
@query(
    "fuzzy_join_part_names",
    oracle="""
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 3
      AND levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    blk = F.floor(F.length("x") / 4)
    names = part.select(F.col("p_name").alias("x")).distinct()
    nx = names.select("x", blk.alias("blk"))
    # replicate the probe side to its three adjacent length buckets; the
    # array is three cheap ints, so the Generate re-evaluation trap for
    # expensive exploded expressions does not apply
    ny = names.select(
        F.col("x").alias("y"), F.explode(F.array(blk - 1, blk, blk + 1)).alias("blk")
    )
    # threshold form: banded O(len×3) DP with early exit (returns -1 when
    # the distance exceeds the threshold) — exact for the ≤3 contract and
    # ~10× cheaper than the full O(len²) DP on the distant majority.
    # The relation is kept ORDERED-symmetric (x=y at dist 0 included):
    # each qualifying ordered name pair meets on exactly one bucket key,
    # so the expansion below needs no dedup.
    name_pairs = (
        nx.join(ny, "blk")
        .withColumn("edit_dist", F.levenshtein("x", "y", 3).cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("x", "y", "edit_dist")
    )
    a = part.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("x"),
        F.col("p_brand").alias("brand"),
    )
    b = part.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("y"),
        F.col("p_brand").alias("brand"),
    )
    return (
        a.join(name_pairs, "x")
        .join(b, ["brand", "y"])
        .filter(F.col("a_key") < F.col("b_key"))
        .select("a_key", "b_key", "edit_dist")
    )


# ---------------------------------------------------------------------------
# Funnel analysis: signup → click → purchase in strict event-time order.
# Stage k's anchor is the user's EARLIEST stage-(k-1)-qualified event, so
# the match is the standard leftmost funnel. Three staged aggregations,
# each one (user)-keyed shuffle over an already-filtered event subset —
# no per-user sorting pass, no session state.
# ---------------------------------------------------------------------------
@query(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_clicked_after,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchased_after
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage(prev: DataFrame | None, etype: str, tcol: str) -> DataFrame:
        ev = events.filter(F.col("event_type") == etype)
        if prev is not None:
            anchor = prev.columns[-1]
            ev = ev.join(prev, "user_id").filter(F.col("ts") > F.col(anchor))
        return ev.groupBy("user_id").agg(F.min("ts").alias(tcol))

    s1 = stage(None, "signup", "t1")
    s2 = stage(s1, "click", "t2")
    s3 = stage(s2, "purchase", "t3")
    counts = [
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in ((s1, "n_signup"), (s2, "n_clicked_after"), (s3, "n_purchased_after"))
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


# ---------------------------------------------------------------------------
# Semi-structured JSON parsing: events.props is a JSON document; parse it
# with a declared schema (from_json — typed, vectorized, errors → NULL)
# rather than regex, and aggregate the extracted field. The reference
# parses semi-structured text fields client-side (`pages/3_Smart
# screener.py` ladder parsing); a declared-schema parse is the engine
# form.
# ---------------------------------------------------------------------------
@query(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_max
    FROM events GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# Ranking-window surface: percent_rank / cume_dist / nth_value / lag-
# with-default in one pass — all four share ONE (nation, balance) sort.
# ---------------------------------------------------------------------------
@query(
    "window_function_surface",
    oracle="""
    SELECT c_custkey, c_nationkey,
           FLOOR(percent_rank() OVER w *1000000 + 0.5)/1000000.0 AS bal_pct_rank,
           FLOOR(cume_dist() OVER w *1000000 + 0.5)/1000000.0 AS bal_cume_dist,
           nth_value(c_acctbal, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS third_lowest_bal,
           COALESCE(LAG(c_acctbal) OVER w, 0.0) AS prev_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def window_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    customer = load_table(spark, sf_dir, "customer")
    # NULL ordering pinned explicitly: Spark's ascending default is
    # nulls-FIRST, DuckDB's is nulls-LAST, so an unparseable balance
    # silently reorders the whole rank surface (r13 NULL-saturated
    # sweep). NULLS LAST on both engines; no-op on clean data.
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return customer.select(
        "c_custkey",
        "c_nationkey",
        round6(F.percent_rank().over(w)).alias("bal_pct_rank"),
        round6(F.cume_dist().over(w)).alias("bal_cume_dist"),
        F.nth_value("c_acctbal", 3).over(w_full).alias("third_lowest_bal"),
        F.coalesce(F.lag("c_acctbal").over(w), F.lit(0.0)).alias("prev_bal"),
    )


# ---------------------------------------------------------------------------
# Set operations: INTERSECT (distinct) and EXCEPT ALL. Spark plans both
# as joins (left-semi / left-anti with multiplicity) — no driver-side
# set materialization at any scale.
# ---------------------------------------------------------------------------
@query(
    "set_ops_customer_pools",
    oracle="""
    WITH with_orders AS (SELECT o_custkey AS k FROM orders),
    rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
    both_pools AS (SELECT DISTINCT k FROM (SELECT k FROM with_orders INTERSECT SELECT k FROM rich)),
    only_rich AS (SELECT k FROM rich EXCEPT ALL SELECT k FROM with_orders)
    SELECT 'intersect' AS pool, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k FROM both_pools
    UNION ALL
    SELECT 'except_all' AS pool, CAST(COUNT(*) AS BIGINT), CAST(MIN(k) AS BIGINT),
           CAST(MAX(k) AS BIGINT) FROM only_rich
    """,
)
def set_ops_customer_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    summary = lambda df, label: df.agg(  # noqa: E731
        F.lit(label).alias("pool"),
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    ).select("pool", "n", "min_k", "max_k")
    return summary(with_orders.intersect(rich), "intersect").unionAll(
        summary(rich.exceptAll(with_orders), "except_all")
    )


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (continuous-aggregate semantics): the
# daily (day, event_type) rollup is maintained from an existing rollup of
# the old partitions plus a partial rollup of the delta partition, merged
# by SUMMING PARTIALS — never rescanning the old data. Exact because the
# partials are fixed-point integer sums (order-independent). The oracle
# is the full recompute: maintenance must be indistinguishable from it.
# ---------------------------------------------------------------------------
@query(
    "incremental_rollup_maintenance",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS event_cnt,
           {o_sum_fixed('value')} AS value_total
    FROM events GROUP BY 1, 2
    """,
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "value",
    )
    cutoff = F.lit("2024-01-25").cast("date")

    def partial_rollup(df: DataFrame) -> DataFrame:
        # partials keep the raw integer cents so the merge is exact
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__cents"),
        )

    old_rollup = partial_rollup(events.filter(F.col("day") < cutoff))
    delta_rollup = partial_rollup(events.filter(F.col("day") >= cutoff))
    merged = (
        old_rollup.unionByName(delta_rollup)
        .groupBy("day", "event_type")
        .agg(F.sum("event_cnt").alias("event_cnt"), F.sum("__cents").alias("__cents"))
    )
    return merged.select(
        "day",
        "event_type",
        "event_cnt",
        (F.col("__cents") / 100.0).alias("value_total"),
    )


# ---------------------------------------------------------------------------
# Interval (stream-stream) join, batch twin (new r6): every (click,
# purchase) of the same user with the purchase inside (click_ts,
# click_ts + 10 min]. The registered batch query shares its body with
# streaming.tick_bars.click_purchase_interval_join, whose streaming form
# carries event-time watermarks on BOTH sides so join state is evicted
# once the opposite watermark passes the bound — state O(events per
# window), not O(stream length); the availableNow replay parity is
# asserted in tests/test_streaming_ingest.py.
#
# Scale shape: an equi join on user_id with a range residual — one
# hash-partitioned shuffle per side, never a cartesian; output is
# bounded by true temporal coincidences.
# ---------------------------------------------------------------------------
@query(
    "interval_join_click_purchase",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
               event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS purchase_ts,
               event_id AS purchase_id, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, click_id, click_ts, purchase_id, purchase_ts,
           purchase_value
    FROM c JOIN p ON user_id = p_user
        AND purchase_ts > click_ts
        AND purchase_ts <= click_ts + INTERVAL 10 MINUTE
    """,
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.tick_bars import click_purchase_interval_join

    ev = load_table(spark, sf_dir, "events")
    return click_purchase_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff / CDC classification (new r6): the lakehouse maintenance
# op — given two versions of a keyed table, classify every key as
# added / removed / changed / unchanged by comparing md5 row
# fingerprints over a full outer join on the key. Simulated versions
# from the orders table (v1 drops keys %991, v2 drops %997 and bumps
# %1000 prices 10%), so all four classes are non-empty and
# deterministic. Fingerprints hash only integer/string renderings
# (price as fixed-point cents, date as DATE string) — never raw double
# formatting, which diverges across engines.
#
# Scale shape: one hash-partitioned full outer join on the key and a
# 4-row aggregate; both snapshot scans are full column-pruned parquet
# passes. This is how a 100 TB table diff actually runs — no
# driver-side comparison, no sort.
# ---------------------------------------------------------------------------
_DIFF_FP = (
    "md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || "
    "CAST(price_cents AS VARCHAR) || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"
    " || '|' || o_orderpriority)"
)


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM orders
    ),
    v1 AS (
        SELECT *, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM base WHERE o_orderkey % 991 <> 0
    ),
    v2 AS (
        SELECT *, CAST(FLOOR(
            CASE WHEN o_orderkey % 1000 = 0 THEN o_totalprice * 1.1
                 ELSE o_totalprice END * 100 + 0.5) AS BIGINT) AS price_cents
        FROM base WHERE o_orderkey % 997 <> 0
    ),
    h1 AS (SELECT o_orderkey AS k1, {_DIFF_FP} AS fp1 FROM v1),
    h2 AS (SELECT o_orderkey AS k2, {_DIFF_FP} AS fp2 FROM v2),
    d AS (
        SELECT COALESCE(k1, k2) AS k,
               CASE WHEN k1 IS NULL THEN 'added'
                    WHEN k2 IS NULL THEN 'removed'
                    WHEN fp1 <> fp2 THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM h1 FULL OUTER JOIN h2 ON k1 = k2
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM d GROUP BY change_type
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    def fingerprinted(df: DataFrame) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    "o_orderstatus",
                    F.col("price_cents").cast("string"),
                    F.to_date("o_orderdate").cast("string"),
                    "o_orderpriority",
                )
            ).alias("fp"),
        )

    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("long")
    v1 = fingerprinted(
        base.filter(F.col("o_orderkey") % 991 != 0).withColumn(
            "price_cents", cents(F.col("o_totalprice"))
        )
    ).select(F.col("o_orderkey").alias("k1"), F.col("fp").alias("fp1"))
    v2 = fingerprinted(
        base.filter(F.col("o_orderkey") % 997 != 0).withColumn(
            "price_cents",
            cents(
                F.when(
                    F.col("o_orderkey") % 1000 == 0, F.col("o_totalprice") * 1.1
                ).otherwise(F.col("o_totalprice"))
            ),
        )
    ).select(F.col("o_orderkey").alias("k2"), F.col("fp").alias("fp2"))
    d = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.coalesce("k1", "k2").alias("k"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Event-transition (Markov) matrix (new r6): per-user event sequences →
# (from, to) transition counts and per-source-state probabilities — the
# sequence-mining summary behind "what do users do after a click".
# Ordering is (ts, event_id): the unique tie-break makes the lag
# deterministic under concurrent timestamps on both engines.
#
# Scale shape: one user-keyed window (each user's sequence lives in one
# partition — user-cardinality parallelism), then a (from, to) aggregate
# bounded by event-type²; probabilities divide exact integer counts.
# ---------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n,
           FLOOR((CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type))
                 * 1000000 + 0.5) / 1000000.0 AS p
    FROM t
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        round6(F.col("n").cast("double") / F.sum("n").over(tot)).alias("p"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (new r6): users grouped by first-activity week
# (the cohort), tracked across subsequent weeks — the standard product-
# analytics triangle the reference's dashboards would chart. Week
# buckets via date_trunc('week') (ISO Monday on both engines); offsets
# are exact integer day-diffs / 7.
#
# Scale shape: first-seen is one user-keyed min; the matrix is a
# (cohort-week × offset) aggregate over DISTINCT (user, week) activity —
# calendar-bounded output, user-bounded shuffle.
# ---------------------------------------------------------------------------
@query(
    "cohort_retention_matrix",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM cohort GROUP BY cohort_wk
    ),
    m AS (
        SELECT c.cohort_wk,
               CAST((a.wk - c.cohort_wk) / 7 AS BIGINT) AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM act a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY c.cohort_wk, week_offset
    )
    SELECT m.cohort_wk, m.week_offset, s.cohort_size, m.n_active,
           FLOOR((CAST(m.n_active AS DOUBLE) / s.cohort_size) * 1000000 + 0.5)
               / 1000000.0 AS retention
    FROM m JOIN sizes s ON m.cohort_wk = s.cohort_wk
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    act = ev.select(
        "user_id",
        F.trunc(F.col("ts").cast("date"), "week").alias("wk"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    m = (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return m.join(sizes, "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        "cohort_size",
        "n_active",
        round6(F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# Column profiling (new r6): the Deequ/Glue-style data-profile report —
# one row per column of the orders table with null count, distinct
# count, and min/max rendered as strings (numerics via fixed-point
# cents, dates as DATE strings — never raw double formatting). The
# operational "what is in this table" pass every lakehouse runs on
# ingest.
#
# Scale shape: ONE aggregate over the table computes every column's
# stats in the same pass (map-side combined); the per-column unpivot
# happens on the 1-row result, not on the data.
# ---------------------------------------------------------------------------
@query(
    "data_profile_orders",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS k_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k_dist,
               CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
               CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
               CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS st_nulls,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS st_dist,
               MIN(o_orderstatus) AS st_min, MAX(o_orderstatus) AS st_max,
               CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS tp_nulls,
               CAST(COUNT(DISTINCT CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS tp_dist,
               CAST(MIN(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS VARCHAR) AS tp_min,
               CAST(MAX(CAST(FLOOR(o_totalprice*100 + 0.5) AS BIGINT)) AS VARCHAR) AS tp_max,
               CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS dt_nulls,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS dt_dist,
               CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS dt_min,
               CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS dt_max,
               CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS pr_nulls,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS pr_dist,
               MIN(o_orderpriority) AS pr_min, MAX(o_orderpriority) AS pr_max
        FROM orders
    )
    SELECT col, n_rows, n_nulls, n_distinct, min_repr, max_repr FROM (
        SELECT 'o_orderkey' AS col, n_rows, k_nulls AS n_nulls, k_dist AS n_distinct, k_min AS min_repr, k_max AS max_repr FROM s
        UNION ALL SELECT 'o_orderstatus', n_rows, st_nulls, st_dist, st_min, st_max FROM s
        UNION ALL SELECT 'o_totalprice_cents', n_rows, tp_nulls, tp_dist, tp_min, tp_max FROM s
        UNION ALL SELECT 'o_orderdate', n_rows, dt_nulls, dt_dist, dt_min, dt_max FROM s
        UNION ALL SELECT 'o_orderpriority', n_rows, pr_nulls, pr_dist, pr_min, pr_max FROM s
    )
    """,
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    date = F.to_date("o_orderdate")
    n = F.count(F.lit(1))
    s = o.agg(
        n.alias("n_rows"),
        (n - F.count("o_orderkey")).alias("k_nulls"),
        F.count_distinct("o_orderkey").alias("k_dist"),
        F.min("o_orderkey").cast("string").alias("k_min"),
        F.max("o_orderkey").cast("string").alias("k_max"),
        (n - F.count("o_orderstatus")).alias("st_nulls"),
        F.count_distinct("o_orderstatus").alias("st_dist"),
        F.min("o_orderstatus").alias("st_min"),
        F.max("o_orderstatus").alias("st_max"),
        (n - F.count("o_totalprice")).alias("tp_nulls"),
        F.count_distinct(cents).alias("tp_dist"),
        F.min(cents).cast("string").alias("tp_min"),
        F.max(cents).cast("string").alias("tp_max"),
        (n - F.count("o_orderdate")).alias("dt_nulls"),
        F.count_distinct(date).alias("dt_dist"),
        F.min(date).cast("string").alias("dt_min"),
        F.max(date).cast("string").alias("dt_max"),
        (n - F.count("o_orderpriority")).alias("pr_nulls"),
        F.count_distinct("o_orderpriority").alias("pr_dist"),
        F.min("o_orderpriority").alias("pr_min"),
        F.max("o_orderpriority").alias("pr_max"),
    )
    rows = [
        ("o_orderkey", "k"),
        ("o_orderstatus", "st"),
        ("o_totalprice_cents", "tp"),
        ("o_orderdate", "dt"),
        ("o_orderpriority", "pr"),
    ]
    # Deliberately a 5-way union of selects over `s`, NOT a single
    # combined aggregate + explode: the r13 optimization round tried the
    # one-subtree form and it is 2.6× SLOWER (0.90 → 2.36 s warm median
    # at sf0.1) — fusing five count(DISTINCT col) into one aggregate
    # forces the multi-distinct Expand (5× the input rows) through a
    # 26-function aggregate that the string min/max buffers demote to
    # SortAggregate. As separate union branches each distinct compiles
    # to its own 2-stage hash plan over the cheap scan. Guide §1.1: the
    # "ideal" single-pass plan lost to the measured one.
    out = None
    for col, p in rows:
        part = s.select(
            F.lit(col).alias("col"),
            "n_rows",
            F.col(f"{p}_nulls").alias("n_nulls"),
            F.col(f"{p}_dist").alias("n_distinct"),
            F.col(f"{p}_min").alias("min_repr"),
            F.col(f"{p}_max").alias("max_repr"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Constraint validation suite (new r6): Deequ-style data-quality checks
# as one deterministic report — key uniqueness, referential integrity
# (orders.custkey → customer, lineitem.orderkey → orders), domain
# enumeration (o_orderpriority), non-negativity (o_totalprice), and
# freshness span (orderdate within the TPC-H window). Each row: check
# name, violation count, pass flag. The gate a pipeline runs before
# promoting a snapshot.
#
# Scale shape: each check is one aggregate or one anti-join semi-count —
# all key-partitioned; the report is check-cardinality.
# ---------------------------------------------------------------------------
@query(
    "data_quality_checks",
    oracle="""
    WITH dup AS (
        SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v FROM (
            SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
        ) WHERE c > 1
    ),
    orphan_cust AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    ),
    orphan_li AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ),
    bad_prio AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
        WHERE o_orderpriority NOT IN
            ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
    ),
    neg_price AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders WHERE o_totalprice < 0
    ),
    stale AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1992-01-01'
           OR CAST(o_orderdate AS DATE) > DATE '1998-12-31'
    )
    SELECT 'unique_orderkey' AS check_name, v AS n_violations, v = 0 AS passed FROM dup
    UNION ALL SELECT 'fk_orders_customer', v, v = 0 FROM orphan_cust
    UNION ALL SELECT 'fk_lineitem_orders', v, v = 0 FROM orphan_li
    UNION ALL SELECT 'domain_orderpriority', v, v = 0 FROM bad_prio
    UNION ALL SELECT 'nonnegative_totalprice', v, v = 0 FROM neg_price
    UNION ALL SELECT 'orderdate_in_window', v, v = 0 FROM stale
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")

    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("v"))
    )
    orphan_cust = o.join(
        cust, o["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("v"))
    orphan_li = li.join(
        o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("v"))
    domain = (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    )
    d = F.to_date("o_orderdate")
    # The three predicate checks share ONE scan+aggregate pass (r13
    # optimization round): as separate filter().agg() branches each was
    # its own full orders scan in the unioned plan (guide §7.2
    # duplicated subtrees). count_if(p) == count of filter(p) rows: a
    # NULL predicate input yields NULL, which neither the filter nor
    # count_if counts. The 1-row result unpivots via explode.
    flat = o.agg(
        F.count_if(~F.col("o_orderpriority").isin(*domain)).alias("bp"),
        F.count_if(F.col("o_totalprice") < 0).alias("np"),
        F.count_if(
            (d < F.lit("1992-01-01").cast("date"))
            | (d > F.lit("1998-12-31").cast("date"))
        ).alias("st"),
    )
    flat_rows = flat.select(
        F.explode(
            F.array(
                F.struct(F.lit("domain_orderpriority").alias("check_name"), F.col("bp").alias("v")),
                F.struct(F.lit("nonnegative_totalprice").alias("check_name"), F.col("np").alias("v")),
                F.struct(F.lit("orderdate_in_window").alias("check_name"), F.col("st").alias("v")),
            ).alias("a")
        ).alias("r")
    ).select("r.check_name", F.col("r.v").alias("v"))

    checks = [
        ("unique_orderkey", dup),
        ("fk_orders_customer", orphan_cust),
        ("fk_lineitem_orders", orphan_li),
    ]
    out = None
    for name, df in checks:
        part = df.select(
            F.lit(name).alias("check_name"),
            F.col("v"),
        )
        out = part if out is None else out.unionByName(part)
    return out.unionByName(flat_rows).select(
        "check_name",
        F.col("v").alias("n_violations"),
        (F.col("v") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO / upsert emulation (new r6): apply a keyed delta (updates +
# inserts) to a base snapshot in ONE full-outer pass — matched keys take
# the delta row, unmatched-base rows survive, unmatched-delta rows
# insert; the write-side twin of snapshot_diff_orders. Simulated delta
# from the orders table: keys %1000 re-priced 10% (updates), keys %997
# held out of the base (inserts). The audit aggregates the merged
# result per priority with insert/update counts and a fixed-point price
# checksum, so the merge itself — not just its row count — is verified.
#
# Scale shape: one key-partitioned full outer join + one aggregate; on a
# MERGE-capable table format the same delta applies as MERGE INTO with
# identical semantics (this is the engine-side plan it compiles to).
# ---------------------------------------------------------------------------
@query(
    "merge_upsert_orders",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 997 <> 0
    ),
    delta AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0 AND o_orderkey % 997 <> 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 997 = 0
    ),
    merged AS (
        SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS k,
               COALESCE(d.o_orderpriority, b.o_orderpriority) AS prio,
               COALESCE(d.o_totalprice, b.o_totalprice) AS price,
               CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                    WHEN d.o_orderkey IS NULL THEN 'keep'
                    ELSE 'update' END AS action
        FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
    )
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows_after,
           CAST(count_if(action = 'insert') AS BIGINT) AS n_inserted,
           CAST(count_if(action = 'update') AS BIGINT) AS n_updated,
           CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS price_cents_after
    FROM merged GROUP BY prio
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 997 != 0)
    updates = base.filter(F.col("o_orderkey") % 1000 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    inserts = o.filter(F.col("o_orderkey") % 997 == 0)
    delta = updates.unionByName(inserts)
    b = base.select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderpriority").alias("bp"),
        F.col("o_totalprice").alias("bv"),
    )
    d = delta.select(
        F.col("o_orderkey").alias("dk"),
        F.col("o_orderpriority").alias("dp"),
        F.col("o_totalprice").alias("dv"),
    )
    merged = b.join(d, b["bk"] == d["dk"], "full_outer").select(
        F.coalesce("dp", "bp").alias("prio"),
        F.coalesce("dv", "bv").alias("price"),
        F.when(F.col("bk").isNull(), "insert")
        .when(F.col("dk").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )
    return merged.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n_rows_after"),
        F.count_if(F.col("action") == "insert").alias("n_inserted"),
        F.count_if(F.col("action") == "update").alias("n_updated"),
        F.sum(F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")).alias(
            "price_cents_after"
        ),
    )


# ---------------------------------------------------------------------------
# k-anonymity report (new r6): the governance check before a customer
# extract ships — group sizes over the quasi-identifier pair
# (nationkey, mktsegment) plus an acctbal sign bucket; groups smaller
# than k = 5 re-identify individuals and are flagged for suppression or
# generalization. Output: every equivalence class with its size and
# violation flag, plus the class rendered as one string key.
#
# Scale shape: one map-side-combined groupBy over the quasi-identifier
# tuple; output is class-cardinality.
# ---------------------------------------------------------------------------
@query(
    "k_anonymity_customers",
    oracle="""
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS bal_sign,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM customer GROUP BY c_nationkey, c_mktsegment, bal_sign
    )
    SELECT c_nationkey, c_mktsegment, bal_sign, class_size,
           class_size < 5 AS violates_k5
    FROM cls
    """,
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cls = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.when(F.col("c_acctbal") < 0, "neg").otherwise("nonneg").alias("bal_sign"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_sign")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_sign",
        "class_size",
        (F.col("class_size") < 5).alias("violates_k5"),
    )


# ---------------------------------------------------------------------------
# Order/lineitem reconciliation (new r6): the cross-table consistency
# report — per order, compare the header total against the detail sum
# Σ extendedprice·(1+tax)·(1−discount), bucket the relative difference
# (match <0.1%, near <5%, large, or detail-missing), and aggregate per
# priority. On TPC-H proper every order matches; the synthetic tables
# here do NOT maintain the invariant, which is exactly what a
# reconciliation job exists to measure. Per-line amounts quantize to
# cents BEFORE summing (order-independent exact detail totals).
#
# Scale shape: one key-partitioned detail aggregate + one key join +
# one small aggregate — the standard header/detail audit plan.
# ---------------------------------------------------------------------------
@query(
    "order_lineitem_reconciliation",
    oracle="""
    WITH det AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                    * 100 + 0.5) AS BIGINT)) AS BIGINT) AS detail_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    cmp AS (
        SELECT o.o_orderpriority,
               CASE WHEN d.l_orderkey IS NULL THEN 'no_detail'
                    WHEN abs(d.detail_cents - CAST(FLOOR(o.o_totalprice*100 + 0.5) AS BIGINT))
                         <= 0.001 * CAST(FLOOR(o.o_totalprice*100 + 0.5) AS BIGINT)
                        THEN 'match'
                    WHEN abs(d.detail_cents - CAST(FLOOR(o.o_totalprice*100 + 0.5) AS BIGINT))
                         <= 0.05 * CAST(FLOOR(o.o_totalprice*100 + 0.5) AS BIGINT)
                        THEN 'near'
                    ELSE 'large' END AS bucket
        FROM orders o LEFT JOIN det d ON o.o_orderkey = d.l_orderkey
    )
    SELECT o_orderpriority, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM cmp GROUP BY o_orderpriority, bucket
    """,
)
def order_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_tax", "l_discount"
    )
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount"))
        * 100
        + F.lit(0.5)
    ).cast("long")
    det = li.groupBy("l_orderkey").agg(F.sum(line_cents).alias("detail_cents"))
    hdr_cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    diff = F.abs(F.col("detail_cents") - hdr_cents)
    joined = o.join(det, o["o_orderkey"] == det["l_orderkey"], "left")
    bucket = (
        F.when(F.col("l_orderkey").isNull(), "no_detail")
        .when(diff <= 0.001 * hdr_cents, "match")
        .when(diff <= 0.05 * hdr_cents, "near")
        .otherwise("large")
    )
    return (
        joined.select("o_orderpriority", bucket.alias("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Conversion attribution (new r6): for every purchase, the first-touch
# and last-touch click of the same user within the 7 days before it —
# the marketing-analytics op downstream of the interval join. Touch
# picks are row_numbers with full (ts, event_id) tie-breaks, so
# attribution is deterministic under concurrent clicks.
#
# Scale shape: a user-keyed equi join with a banded time residual, then
# one purchase-keyed window pass for both picks — every stage keyed on
# user or purchase.
# ---------------------------------------------------------------------------
@query(
    "conversion_attribution",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
               event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS purchase_ts,
               event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT p.purchase_id, p.p_user AS user_id, p.purchase_ts,
               c.click_id, c.click_ts,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                   ORDER BY c.click_ts, c.click_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                   ORDER BY c.click_ts DESC, c.click_id DESC) AS rl
        FROM p JOIN c ON p.p_user = c.user_id
            AND c.click_ts <= p.purchase_ts
            AND c.click_ts >= p.purchase_ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, user_id, purchase_ts,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           MAX(CASE WHEN rf = 1 THEN click_id END) AS first_click_id,
           MAX(CASE WHEN rf = 1 THEN click_ts END) AS first_click_ts,
           MAX(CASE WHEN rl = 1 THEN click_id END) AS last_click_id,
           MAX(CASE WHEN rl = 1 THEN click_ts END) AS last_click_ts
    FROM touches
    GROUP BY purchase_id, user_id, purchase_ts
    """,
)
def conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    touches = p.join(
        c,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAY")),
    )
    pw = Window.partitionBy("purchase_id")
    r = touches.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
        F.row_number().over(pw.orderBy("click_ts", "click_id")).alias("rf"),
        F.row_number()
        .over(pw.orderBy(F.col("click_ts").desc(), F.col("click_id").desc()))
        .alias("rl"),
    )
    pick = lambda rn, col: F.max(F.when(F.col(rn) == 1, F.col(col)))
    return r.groupBy("purchase_id", "user_id", "purchase_ts").agg(
        F.count(F.lit(1)).alias("n_touches"),
        pick("rf", "click_id").alias("first_click_id"),
        pick("rf", "click_ts").alias("first_click_ts"),
        pick("rl", "click_id").alias("last_click_id"),
        pick("rl", "click_ts").alias("last_click_ts"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (new r6): the experimentation readout — users
# deterministically split into two arms by md5(user_id) parity, per-user
# purchase value as the metric, then per-arm mean (exact fixed-point),
# absolute/relative lift, and the Welch t-statistic. Variances come
# from exact integer Σx/Σx² in cents, so every arm statistic is the
# identical IEEE chain on both engines; only genuinely float steps
# (divisions, sqrt) run in double, rounded to 6dp.
#
# Scale shape: one user-keyed aggregate (map-side combined) + one
# 2-row arm aggregate; 1-row output.
# ---------------------------------------------------------------------------
@query(
    "ab_test_lift",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT) % 2
                   AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(value*100,0) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS spend_cents
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(spend_cents) AS BIGINT) AS s,
               CAST(SUM(spend_cents * spend_cents) AS BIGINT) AS s2
        FROM u GROUP BY arm
    ),
    stats AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS n0,
            MAX(CASE WHEN arm = 1 THEN n END) AS n1,
            MAX(CASE WHEN arm = 0 THEN s END) / 100.0
                / MAX(CASE WHEN arm = 0 THEN n END) AS m0,
            MAX(CASE WHEN arm = 1 THEN s END) / 100.0
                / MAX(CASE WHEN arm = 1 THEN n END) AS m1,
            (CAST(MAX(CASE WHEN arm = 0 THEN s2 END) AS DOUBLE) / 10000
             - CAST(MAX(CASE WHEN arm = 0 THEN s END) AS DOUBLE) / 100
               * MAX(CASE WHEN arm = 0 THEN s END) / 100
               / MAX(CASE WHEN arm = 0 THEN n END))
              / (MAX(CASE WHEN arm = 0 THEN n END) - 1) AS v0,
            (CAST(MAX(CASE WHEN arm = 1 THEN s2 END) AS DOUBLE) / 10000
             - CAST(MAX(CASE WHEN arm = 1 THEN s END) AS DOUBLE) / 100
               * MAX(CASE WHEN arm = 1 THEN s END) / 100
               / MAX(CASE WHEN arm = 1 THEN n END))
              / (MAX(CASE WHEN arm = 1 THEN n END) - 1) AS v1
        FROM arms
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           FLOOR(m0*1000000 + 0.5)/1000000.0 AS mean_control,
           FLOOR(m1*1000000 + 0.5)/1000000.0 AS mean_treatment,
           FLOOR((m1 - m0)*1000000 + 0.5)/1000000.0 AS abs_lift,
           FLOOR(((m1 - m0) / m0)*1000000 + 0.5)/1000000.0 AS rel_lift,
           FLOOR(((m1 - m0) / sqrt(v0/n0 + v1/n1))*1000000 + 0.5)/1000000.0
               AS welch_t
    FROM stats
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import round6

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100, 0).cast("long"),
    ).otherwise(F.lit(0))
    u = ev.groupBy("user_id").agg(F.sum(cents).alias("spend_cents")).select(
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
            .cast("long")
            % 2
        ).alias("arm"),
        "spend_cents",
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("spend_cents").alias("s"),
        F.sum(F.col("spend_cents") * F.col("spend_cents")).alias("s2"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))
    stats = arms.agg(
        pick(0, "n").alias("n0"),
        pick(1, "n").alias("n1"),
        (pick(0, "s") / 100.0 / pick(0, "n")).alias("m0"),
        (pick(1, "s") / 100.0 / pick(1, "n")).alias("m1"),
        (
            (
                pick(0, "s2").cast("double") / 10000
                - pick(0, "s").cast("double") / 100 * pick(0, "s") / 100 / pick(0, "n")
            )
            / (pick(0, "n") - 1)
        ).alias("v0"),
        (
            (
                pick(1, "s2").cast("double") / 10000
                - pick(1, "s").cast("double") / 100 * pick(1, "s") / 100 / pick(1, "n")
            )
            / (pick(1, "n") - 1)
        ).alias("v1"),
    )
    return stats.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        round6(F.col("m0")).alias("mean_control"),
        round6(F.col("m1")).alias("mean_treatment"),
        round6(F.col("m1") - F.col("m0")).alias("abs_lift"),
        round6((F.col("m1") - F.col("m0")) / F.col("m0")).alias("rel_lift"),
        round6(
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1"))
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# l-diversity report (new r6): the companion privacy audit to
# k_anonymity_customers — within each quasi-identifier equivalence
# class, how many DISTINCT values of the sensitive attribute (order
# priority of the customers' orders) appear. A class can be k-anonymous
# yet expose everyone's attribute when l = 1.
#
# Scale shape: one customer⋈orders equi join (hash-partitioned on
# custkey), then a two-level aggregate on the QI key.
# ---------------------------------------------------------------------------
@query(
    "l_diversity_report",
    oracle="""
    WITH joined AS (
        SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ), cls AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct
        FROM joined GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, n_rows, l_distinct,
           l_distinct < 3 AS violates_l3
    FROM cls
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(o, c.c_custkey == o.o_custkey).select(
        "c_nationkey", "c_mktsegment", "o_orderpriority"
    )
    cls = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("l_distinct"),
    )
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n_rows",
        "l_distinct",
        (F.col("l_distinct") < 3).alias("violates_l3"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 history build (new r6): collapse a sequence of keyed
# snapshots into validity intervals — the dimension-table maintenance
# op every warehouse runs (the write-side twin of snapshot_diff's
# read-side classification). Three deterministic snapshot versions are
# derived from orders (priority mutated on key-modulus rules, the
# snapshot_diff convention); consecutive equal states merge into one
# interval via the change-flag running sum; valid_to comes from the
# next interval's valid_from.
#
# Scale shape: one key-partitioned ordered window over (key, version)
# + one (key, interval) aggregate + one interval-level lead — all on
# the same key partitioning, no data-sized global state.
# ---------------------------------------------------------------------------
@query(
    "scd2_history_build",
    oracle="""
    WITH snaps AS (
        SELECT o_orderkey AS k, 1 AS ver, o_orderpriority AS attr FROM orders
        UNION ALL
        SELECT o_orderkey, 2,
               CASE WHEN o_orderkey % 5 = 0 THEN '9-REVISED' ELSE o_orderpriority END
        FROM orders
        UNION ALL
        SELECT o_orderkey, 3,
               CASE WHEN o_orderkey % 3 = 0 THEN '8-FINAL'
                    WHEN o_orderkey % 5 = 0 THEN '9-REVISED'
                    ELSE o_orderpriority END
        FROM orders
    ), flagged AS (
        SELECT k, ver, attr,
               CASE WHEN LAG(attr) OVER w IS NULL
                         OR attr <> LAG(attr) OVER w THEN 1 ELSE 0 END AS chg
        FROM snaps WINDOW w AS (PARTITION BY k ORDER BY ver)
    ), seg AS (
        SELECT k, ver, attr,
               SUM(chg) OVER (PARTITION BY k ORDER BY ver
                   ROWS UNBOUNDED PRECEDING) AS iid
        FROM flagged
    ), intervals AS (
        SELECT k, iid, MIN(attr) AS attr,
               CAST(MIN(ver) AS INT) AS valid_from
        FROM seg GROUP BY k, iid
    )
    SELECT k AS o_orderkey, attr, valid_from,
           CAST(LEAD(valid_from) OVER (PARTITION BY k ORDER BY valid_from) - 1
                AS INT) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY k ORDER BY valid_from) IS NULL
             AS is_current
    FROM intervals
    """,
)
def scd2_history_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    # one scan + explode builds all three snapshot versions; the r12
    # 3-way union re-scanned orders once per version (r13 optimization
    # round, guide §7.2 duplicated subtrees). Same rows: each struct is
    # exactly one union branch's (ver, attr) projection.
    snaps = o.select(
        "k",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("ver"), F.col("o_orderpriority").alias("attr")
                ),
                F.struct(
                    F.lit(2).alias("ver"),
                    F.when(F.col("k") % 5 == 0, "9-REVISED")
                    .otherwise(F.col("o_orderpriority"))
                    .alias("attr"),
                ),
                F.struct(
                    F.lit(3).alias("ver"),
                    F.when(F.col("k") % 3 == 0, "8-FINAL")
                    .when(F.col("k") % 5 == 0, "9-REVISED")
                    .otherwise(F.col("o_orderpriority"))
                    .alias("attr"),
                ),
            )
        ).alias("e"),
    ).select("k", F.col("e.ver").alias("ver"), F.col("e.attr").alias("attr"))
    w = Window.partitionBy("k").orderBy("ver")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = (
        F.when(
            F.lag("attr").over(w).isNull()
            | (F.col("attr") != F.lag("attr").over(w)),
            1,
        )
        .otherwise(0)
    )
    seg = snaps.withColumn("chg", chg).withColumn("iid", F.sum("chg").over(run))
    intervals = seg.groupBy("k", "iid").agg(
        F.min("attr").alias("attr"),
        F.min("ver").cast("int").alias("valid_from"),
    )
    wi = Window.partitionBy("k").orderBy("valid_from")
    nxt = F.lead("valid_from").over(wi)
    return intervals.select(
        F.col("k").alias("o_orderkey"),
        "attr",
        "valid_from",
        (nxt - 1).cast("int").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph (new r6): nodes are nations,
# directed edges customer-nation → supplier-nation weighted by exact
# revenue cents (one lineitem-sized shuffle builds the graph — at
# 100 TB that aggregation IS the job; the 10 damped iterations then run
# on the fixed-cardinality nation graph). Per-iteration ranks are
# quantized to 1e12 integers and every contribution term is quantized
# before summing, so the recursion is bit-identical on both engines.
#
# Scale shape: fact-sized edge aggregation (hash shuffle on the nation
# pair), then 10 iterations of tiny joins; dangling-free by
# construction (every customer nation ships somewhere).
# ---------------------------------------------------------------------------
@query(
    "pagerank_nation_trade",
    oracle="""
    WITH RECURSIVE rev0 AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                   AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ), rev AS (
        -- zero-weight self-loops close the node set under the group-by:
        -- every nation is a SOURCE at every sf (verified), so each node
        -- re-appears as a dst each iteration even when nobody ships to it
        SELECT src, dst, w FROM rev0
        UNION ALL
        SELECT n_nationkey, n_nationkey, 0 FROM nation
    ), outw AS (
        SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM rev GROUP BY src
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation
    ), pr AS (
        SELECT 0 AS it, n_nationkey AS node,
               CAST(ROUND(1000000000000.0 / n, 0) AS BIGINT) AS r_p
        FROM nation, nn
        UNION ALL
        SELECT pr.it + 1, rev.dst,
               CAST(ROUND(150000000000.0 / nn.n, 0) AS BIGINT)
               + SUM(CAST(ROUND(0.85 * pr.r_p * rev.w / outw.tw, 0) AS BIGINT))
        FROM pr
        JOIN rev ON rev.src = pr.node
        JOIN outw ON outw.src = pr.node
        CROSS JOIN nn
        WHERE pr.it < 10
        GROUP BY pr.it + 1, rev.dst, nn.n
    )
    SELECT node AS nationkey,
           FLOOR((r_p/1000000000000.0)*1000000 + 0.5)/1000000.0 AS pagerank
    FROM pr WHERE it = 10
    """,
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    real_edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
            rev_c.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    # zero-weight self-loops: see the oracle comment — they keep every
    # node in the rank relation without a per-iteration left join
    edges = real_edges.unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0).cast("long").alias("w"),
        )
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    # The edge graph is nation²-bounded (≤ 625 + 25 self-loop rows at
    # every sf — a FIXED-cardinality relation), so the 10 damped
    # iterations run on the DRIVER over one bounded collect: the r12
    # envelope measurement showed the old per-iteration
    # join+groupBy+localCheckpoint chain spent ~2 s scheduling ~20 tiny
    # Spark jobs to move ~650 rows around. The fact-sized aggregation
    # (the actual 100 TB work) stays distributed; only the
    # dimension-bounded recursion moves. Integer math is unchanged:
    # 1e12-quantized ranks, each contribution term HALF_UP-rounded
    # before summing — `_round_half_up_jvm` reproduces F.round's
    # BigDecimal(shortest-repr) HALF_UP exactly, so the driver loop is
    # bit-identical to the old Spark loop and to the DuckDB recursive
    # CTE.
    erows = edges.join(outw, "src").collect()  # nation²-bounded
    node_rows = [int(r["node"]) for r in nodes.collect()]  # ≤ nations
    n_nodes = len(node_rows)
    if n_nodes == 0:
        # empty graph (r12 empty-input sweep: the 1/n seed divided by
        # zero on the driver): both engines agree the result is no rows
        return nodes.select(
            F.col("node").alias("nationkey"),
            F.lit(None).cast("double").alias("pagerank"),
        )
    rank = {n: int(round(1_000_000_000_000.0 / n_nodes)) for n in node_rows}
    base = int(round(150_000_000_000.0 / n_nodes))
    for _ in range(10):
        nxt: dict[int, int] = {}
        for e in erows:
            r_p = rank[int(e["src"])]
            term = _round_half_up_jvm(0.85 * r_p * e["w"] / e["tw"])
            dst = int(e["dst"])
            nxt[dst] = nxt.get(dst, 0) + term
        rank = {n: base + t for n, t in nxt.items()}
    out = spark.createDataFrame(
        [(n, r) for n, r in sorted(rank.items())], "node bigint, r_p bigint"
    )
    return out.select(
        F.col("node").alias("nationkey"),
        (F.floor(F.col("r_p") / 1_000_000_000_000.0 * 1_000_000 + F.lit(0.5))
         / 1_000_000.0).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Event-time out-of-orderness profile (new r6): how late events arrive
# relative to the per-user high-water mark — the measurement that picks
# a streaming watermark delay (`withWatermark` in the tick-bar and
# session-window streams). Lateness of an event = seconds its user's
# max-seen event time exceeds its own (0 for in-order rows), from exact
# integer microseconds; per event type: late ratio, p95 and max.
#
# Scale shape: one user-keyed ordered window (running max of event
# time), then a type-keyed aggregate. The p95 is an exact interpolated
# percentile over integer microseconds.
# ---------------------------------------------------------------------------
@query(
    "out_of_orderness_profile",
    oracle="""
    WITH arr AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS ev_us,
               epoch_us(ts)
               + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6))::BIGINT % 172800)
                 * 1000000 AS arr_us
        FROM events
    ), seq AS (
        SELECT event_type,
               GREATEST(
                   MAX(ev_us) OVER (PARTITION BY user_id ORDER BY arr_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - ev_us, 0) AS late_us
        FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(count_if(late_us > 0) AS BIGINT) AS n_late,
           FLOOR((count_if(late_us > 0)*1.0 / COUNT(*))*1000000 + 0.5)/1000000.0
             AS late_ratio,
           FLOOR((quantile_cont(late_us, 0.95)/1000000.0)*1000000 + 0.5)/1000000.0
             AS p95_late_s,
           FLOOR((MAX(late_us)/1000000.0)*1000000 + 0.5)/1000000.0 AS max_late_s
    FROM seq WHERE late_us IS NOT NULL
    GROUP BY event_type
    """,
)
def out_of_orderness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # the synthetic stream arrives perfectly ordered, so arrival disorder
    # is SIMULATED with a deterministic md5 jitter (0..48 h — the panel
    # has ~one event per user per day, so the jitter must straddle the
    # inter-event gap to create inversions) — the O_FUND precedent: the
    # operator (watermark-delay measurement) is real, only the disorder
    # is synthetic, and both engines derive it identically
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 172_800
    )
    arr = ev.select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("ev_us"),
        (us + jitter * 1_000_000).alias("arr_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = arr.select(
        "event_type",
        F.greatest(F.max("ev_us").over(w) - F.col("ev_us"), F.lit(0)).alias(
            "late_us"
        ),
    ).filter(F.col("late_us").isNotNull())
    n = F.count(F.lit(1))
    late = F.count_if(F.col("late_us") > 0)
    return seq.groupBy("event_type").agg(
        n.alias("n_events"),
        late.alias("n_late"),
        (F.floor(late * 1.0 / n * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
            "late_ratio"
        ),
        (
            F.floor(
                F.percentile("late_us", F.lit(0.95)) / 1_000_000.0 * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("p95_late_s"),
        (
            F.floor(F.max("late_us") / 1_000_000.0 * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# Order-priority delay report (new r6, TPC-H Q4 shape): per (order year,
# priority), how many orders have at least one lineitem shipped more
# than 90 days after the order date — the EXISTS/semi-join pattern over
# a date-arithmetic predicate (the testdata has no commitdate, so the
# ship-lag stands in for Q4's commit-vs-receipt test).
#
# Scale shape: the late-lineitem side reduces to DISTINCT orderkeys
# BEFORE the join (semi join on the key), so the orders scan joins a
# shrunken set; group-by is (year × 5 priorities)-bounded.
# ---------------------------------------------------------------------------
@query(
    "order_priority_delay",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l.l_orderkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT CAST(YEAR(o.o_orderdate) AS INT) AS yr, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(count_if(late.l_orderkey IS NOT NULL) AS BIGINT) AS n_delayed,
           FLOOR((count_if(late.l_orderkey IS NOT NULL)*1.0 / COUNT(*))
                 *1000000 + 0.5)/1000000.0 AS delayed_ratio
    FROM orders o LEFT JOIN late ON o.o_orderkey = late.l_orderkey
    GROUP BY YEAR(o.o_orderdate), o.o_orderpriority
    """,
)
def order_priority_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
        .select(F.col("l_orderkey").alias("late_key"))
        .distinct()
    )
    j = o.join(late, o.o_orderkey == F.col("late_key"), "left")
    delayed = F.count_if(F.col("late_key").isNotNull())
    n = F.count(F.lit(1))
    return j.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"), "o_orderpriority"
    ).agg(
        n.alias("n_orders"),
        delayed.alias("n_delayed"),
        (F.floor(delayed * 1.0 / n * 1_000_000 + F.lit(0.5)) / 1_000_000.0).alias(
            "delayed_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Nation-trade triangle census (new r7): triangle counting + local
# clustering coefficient on the undirected nation trade graph (the
# same edge derivation as pagerank_nation_trade, deduplicated to
# u < v pairs). Triangles come from the canonical three-way edge join
# e(u,v) |x| e(v,w) |x| e(u,w) with u < v < w, so each triangle is
# produced exactly once; per-node counts unfold each triangle to its
# three corners.
#
# Scale shape: the expensive part is the fact-sized edge derivation
# (one shuffle, nation-pair cardinality out); the triangle join runs on
# the TINY distinct edge set. On a general (non-dimension) graph the
# same plan holds with the standard degree-ordering refinement: orient
# each edge from lower- to higher-degree endpoint so the join fan-out
# is bounded by arboricity, not max degree.
# ---------------------------------------------------------------------------
@query(
    "nation_trade_triangles",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ), e AS (
        SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM e0
    ), tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ), tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY node
    )
    SELECT d.node AS nationkey, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
               FLOOR(COALESCE(t.n_triangles, 0) * 2.0
                     / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000.0
           END AS clustering_coef
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    """,
)
def nation_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # the distinct edge set (≤ nation² rows) feeds FIVE consumers
    # (e1/e2/e3 of the triangle join + both sides of deg); Spark reuses
    # its one fact-sized derivation's exchanges across them
    e = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .distinct()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x3"), F.col("v").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    out = deg.join(tcnt, "node", "left").select(
        F.col("node").alias("nationkey"),
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.floor(
                F.coalesce("n_triangles", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - 1))
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0,
        ).alias("clustering_coef"),
    )
    return out


# ---------------------------------------------------------------------------
# t-closeness report (new r7): the third privacy lens after
# k_anonymity_customers and l_diversity_report — per quasi-identifier
# class (nation x mktsegment), the total-variation distance between the
# class's sensitive-attribute distribution (order priority) and the
# GLOBAL distribution: t = 1/2 * sum_v |p_class(v) - p_global(v)|.
# A class with t above threshold leaks the sensitive attribute even
# when k-anonymity and l-diversity hold.
#
# Scale shape: one (class x value) aggregate; the global distribution
# is a values-cardinality broadcast. The |.| sum runs at (class x
# value) cardinality — never row scale. Ratios are exact integer
# quotients floored at 6 dp on both engines.
# ---------------------------------------------------------------------------
@query(
    "t_closeness_report",
    oracle="""
    WITH joined AS (
        SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS v
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ), gdist AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS gn FROM joined GROUP BY v
    ), gtot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS gt FROM joined
    ), cls AS (
        SELECT c_nationkey, c_mktsegment, v, CAST(COUNT(*) AS BIGINT) AS cn
        FROM joined GROUP BY c_nationkey, c_mktsegment, v
    ), ctot AS (
        SELECT c_nationkey, c_mktsegment, CAST(SUM(cn) AS BIGINT) AS ct
        FROM cls GROUP BY c_nationkey, c_mktsegment
    ), diffs AS (
        -- every (class, value) pair, including values ABSENT from the
        -- class (cn = 0): the cross join is (classes x 5 priorities)
        SELECT t.c_nationkey, t.c_mktsegment, t.ct, g.gn, gtot.gt,
               COALESCE(c.cn, 0) AS cn
        FROM ctot t
        CROSS JOIN gdist g
        CROSS JOIN gtot
        LEFT JOIN cls c ON c.c_nationkey = t.c_nationkey
                       AND c.c_mktsegment = t.c_mktsegment AND c.v = g.v
    )
    -- exact integer cross-products: |cn*gt - gn*ct| stays in int64 at
    -- check scale (cn,gn <= gt; gt^2 < 2^63 up to ~3e9 joined rows), so
    -- the TV-distance numerator is order-independent on both engines
    SELECT c_nationkey, c_mktsegment, CAST(MIN(ct) AS BIGINT) AS n_rows,
           FLOOR(CAST(SUM(ABS(cn * gt - gn * ct)) AS BIGINT)
                 / (2.0 * MIN(ct) * MIN(gt))
                 * 1000000 + 0.5) / 1000000.0 AS t_distance
    FROM diffs GROUP BY c_nationkey, c_mktsegment
    """,
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("v")
    )
    glob = joined.groupBy("v").agg(F.count(F.lit(1)).alias("gn"))
    gtot = joined.agg(F.count(F.lit(1)).alias("gt"))
    cls = joined.groupBy("c_nationkey", "c_mktsegment", "v").agg(
        F.count(F.lit(1)).alias("cn")
    )
    ctot = cls.groupBy("c_nationkey", "c_mktsegment").agg(F.sum("cn").alias("ct"))
    diffs = (
        ctot.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(gtot))
        .join(cls, ["c_nationkey", "c_mktsegment", "v"], "left")
        .withColumn("cn", F.coalesce("cn", F.lit(0)))
    )
    return diffs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.min("ct").alias("n_rows"),
        (
            F.floor(
                F.sum(F.abs(F.col("cn") * F.col("gt") - F.col("gn") * F.col("ct")))
                / (2.0 * F.min("ct") * F.min("gt"))
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("t_distance"),
    )


# ---------------------------------------------------------------------------
# Trade-route hop distance (new r7): BFS shortest-hop distance from a
# source nation over the SPARSE directed trade graph (top-40 customer->
# supplier nation edges by revenue — thresholding keeps the graph
# multi-hop instead of near-complete). Spark has no recursive CTE, so
# the engine side runs the canonical distributed-BFS loop: per round,
# expand the frontier through the edge list, anti-join out already-
# visited nodes, localCheckpoint to truncate lineage. Rounds =
# eccentricity of the source (bounded by the 8-hop cap both sides).
# The oracle IS a recursive CTE (UNION-distinct working table keeps the
# row set (nodes x hops)-bounded, no path blowup), so this query pins
# Spark's iterative-join answer against a genuinely different
# evaluation strategy.
#
# Scale shape: the fact-sized edge aggregation dominates; each BFS
# round is a frontier-sized hash join against the (tiny, broadcast)
# edge list. On a billion-node graph the identical loop runs with the
# edge list as the big side and the frontier shuffled on src — the
# pattern, not the graph size, is what this query locks in.
# ---------------------------------------------------------------------------
@query(
    "trade_reachability_hops",
    oracle="""
    WITH RECURSIVE rev AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                   AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY cn.n_nationkey, sn.n_nationkey
    ), ranked AS (
        SELECT src, dst,
               ROW_NUMBER() OVER (ORDER BY w DESC, src, dst) AS rk
        FROM rev
    ), e AS (
        SELECT src, dst FROM ranked WHERE rk <= 40
    ), walk AS (
        -- source = the src of the single heaviest edge (data-derived on
        -- both sides; a fixed node id can be isolated in the sparsified
        -- graph at small sf)
        SELECT src AS node, 0 AS hops FROM ranked WHERE rk = 1
        UNION
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hops < 8
    )
    SELECT node AS nationkey, CAST(MIN(hops) AS INT) AS hops
    FROM walk GROUP BY node
    """,
)
def trade_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    w_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
            w_c.alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    # nation²-bounded: the unpartitioned rank window runs on <= 625 rows
    rk = Window.orderBy(F.desc("w"), "src", "dst")
    ranked = rev.withColumn("rk", F.row_number().over(rk)).filter(F.col("rk") <= 40)
    # The ranked relation is ≤ 40 rows BY CONSTRUCTION (rank cutoff), so
    # the BFS runs on the DRIVER over one bounded collect — the old
    # per-hop Spark loop (join + distinct + anti-join + count +
    # localCheckpoint per hop) spent ~2 s scheduling ~10 tiny jobs to
    # walk a 40-edge graph (r13 envelope measurement). The fact-sized
    # revenue aggregation that BUILDS the graph stays distributed; hop
    # order and results are identical (BFS over integer sets, no float).
    erows = ranked.orderBy("rk").collect()
    if not erows:  # empty trade graph: no source — empty, like the oracle
        return spark.createDataFrame([], "nationkey bigint, hops int")
    source = int(erows[0]["src"])
    adj: dict[int, list[int]] = {}
    for e in erows:
        adj.setdefault(int(e["src"]), []).append(int(e["dst"]))
    hops = {source: 0}
    frontier = [source]
    for h in range(1, 9):
        nxt = sorted(
            {d for n in frontier for d in adj.get(n, ()) if d not in hops}
        )
        if not nxt:
            break
        for d in nxt:
            hops[d] = h
        frontier = nxt
    return spark.createDataFrame(
        sorted(hops.items()), "nationkey bigint, hops int"
    )


# ---------------------------------------------------------------------------
# windowFunnel (new r9): ClickHouse-parity sliding-window event chain —
# per user, the deepest prefix of the chain signup → click → purchase
# reachable by events in strict (ts, event_id) order whose TOTAL span
# (t_k - t_1) fits in a 6-hour window; the reference's ClickHouse backend
# exposes this as windowFunnel(window)(ts, cond1, cond2, ...). Spark has
# no built-in, so the engine form is a one-pass DP over each user's
# time-sorted event array: acc[i] holds the LATEST chain-start timestamp
# of any valid (i+1)-deep chain seen so far (the greedy choice — a later
# start always dominates for the remaining window budget), and a level-i
# event extends acc[i-1] iff its time minus that start fits the window.
# One groupBy + one JVM `aggregate` lambda per user: no self-joins, no
# per-level passes, state is 3 BIGINTs per user — the same single-scan
# shape ClickHouse executes, and it streams (applyInPandasWithState
# would carry the identical accumulator).
#
# The DuckDB oracle is deliberately a DIFFERENT formulation (EXISTS
# chains via 2- and 3-way self-joins on the same total order + span
# constraint), so the gate cross-checks two independent constructions
# of the semantics rather than one transcription.
#
# Scale shape: one user-keyed exchange; per-user state is O(chain), the
# sort is per-user-array (bounded by per-user event count), and the
# output is a 4-row histogram. The oracle's join form would be the
# scale-killer (per-user event-count² candidates) — that asymmetry is
# the point of the DP.
# ---------------------------------------------------------------------------
_WF_WINDOW_US = 6 * 3600 * 1_000_000  # 6 hours, in microseconds

_WF_INIT = "array(CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT))"


def _wf_fold(arr_sql: str, init_sql: str = _WF_INIT) -> str:
    """The windowFunnel DP as a JVM `aggregate` fold over a time-sorted
    event-struct array: acc[i] holds the LATEST chain-start timestamp of
    any valid (i+1)-deep chain seen so far. Parameterizing the INITIAL
    accumulator is what makes the fold composable across batch
    boundaries — streaming_funnel_replay seeds batch 2 with batch 1's
    folded state, exactly like the applyInPandasWithState twin
    (streaming/stateful.py) carries its GroupState."""
    return f"""
        aggregate({arr_sql},
          {init_sql},
          (acc, e) -> CASE
            WHEN e.lvl = 1 THEN array(greatest(acc[0], e.t), acc[1], acc[2])
            WHEN e.lvl = 2 AND acc[0] >= 0 AND e.t - acc[0] <= {_WF_WINDOW_US}
                 THEN array(acc[0], greatest(acc[1], acc[0]), acc[2])
            WHEN e.lvl = 3 AND acc[1] >= 0 AND e.t - acc[1] <= {_WF_WINDOW_US}
                 THEN array(acc[0], acc[1], greatest(acc[2], acc[1]))
            ELSE acc END)
        """


def _wf_level(acc_sql: str) -> str:
    """Funnel depth from a folded accumulator."""
    return (
        f"CAST(CASE WHEN ({acc_sql})[2] >= 0 THEN 3"
        f" WHEN ({acc_sql})[1] >= 0 THEN 2"
        f" WHEN ({acc_sql})[0] >= 0 THEN 1 ELSE 0 END AS INT)"
    )


@query(
    "window_funnel_steps",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 END AS lvl
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    base AS (SELECT DISTINCT user_id FROM events),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE lvl = 1),
    l2 AS (
      SELECT DISTINCT s.user_id FROM e s JOIN e c ON c.user_id = s.user_id
      WHERE s.lvl = 1 AND c.lvl = 2
        AND (c.ts > s.ts OR (c.ts = s.ts AND c.event_id > s.event_id))
        AND epoch_us(c.ts) - epoch_us(s.ts) <= {_WF_WINDOW_US}
    ),
    l3 AS (
      SELECT DISTINCT s.user_id FROM e s JOIN e c ON c.user_id = s.user_id
                                JOIN e p ON p.user_id = s.user_id
      WHERE s.lvl = 1 AND c.lvl = 2 AND p.lvl = 3
        AND (c.ts > s.ts OR (c.ts = s.ts AND c.event_id > s.event_id))
        AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        AND epoch_us(p.ts) - epoch_us(s.ts) <= {_WF_WINDOW_US}
    )
    SELECT CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                     WHEN l2.user_id IS NOT NULL THEN 2
                     WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS funnel_level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM base LEFT JOIN l1 USING (user_id) LEFT JOIN l2 USING (user_id)
              LEFT JOIN l3 USING (user_id)
    GROUP BY 1
    """,
)
def window_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lvl = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    steps = ev.select(
        "user_id",
        # conditional struct: collect_list SKIPS nulls, so one aggregate
        # over ALL events gives every user a row (level-0 users included
        # with an empty array) while the DP array holds only chain-type
        # events — one scan, one exchange, no second user-base join
        F.when(
            lvl.isNotNull(),
            F.struct(
                # sub-microsecond parts are zero in this corpus, so the
                # micros cast is value-preserving vs the oracle's
                # epoch_us on nanos
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
                "event_id",
                lvl.alias("lvl"),
            ),
        ).alias("e"),
    )
    packed = steps.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("es")
    )
    per_user = packed.select("user_id", F.expr(_wf_fold("es")).alias("a")).select(
        "user_id",
        F.expr(_wf_level("a")).alias("funnel_level"),
    )
    return per_user.groupBy("funnel_level").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# Streaming funnel, batch-boundary replay (new r10): the driver-checkable
# surface for the STATEFUL streaming funnel (streaming/stateful.py
# streaming_funnel_levels, pytest-parity-tested against the batch DP
# across microbatch splits). This query replays the stream as TWO
# batches split at the chain-event time midpoint: batch 1 folds to a
# per-user (b1, b2, b3) state relation — a real materialized exchange,
# the batch analogue of the GroupState store — and batch 2's fold is
# SEEDED with that state. The single-pass DP runs alongside, and the
# output hash binds the invariant the streaming operator lives on:
# fold(batch1) ∘ fold(batch2) == fold(whole stream), per level, plus
# the size of the state-carrying population (users whose chain progress
# crossed the boundary — the rows a naive stateless restart would
# lose).
#
# The DuckDB oracle is again an independent construction: the
# boundary-invariance THEOREM says the replayed level equals the
# whole-stream level, so the oracle computes levels once via the
# EXISTS-chain join formulation (no fold, no state) and asserts the
# match column equals the user count — if the Spark replay machinery
# ever dropped or mis-seeded carried state, n_single_pass_match (and
# the level histogram itself) would diverge and the hash would flip.
#
# Scale shape: one chain-event scan feeding three user-keyed
# aggregations and one broadcast 1-row boundary; state is 3 BIGINTs per
# user (identical to the streaming operator); output is a ≤4-row
# histogram.
# ---------------------------------------------------------------------------
@query(
    "streaming_funnel_replay",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS t,
             CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 END AS lvl
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    bnd AS (SELECT (MIN(t) + MAX(t)) // 2 AS boundary FROM e),
    base AS (SELECT DISTINCT user_id FROM events),
    l1 AS (SELECT DISTINCT user_id FROM e WHERE lvl = 1),
    l2 AS (
      SELECT DISTINCT s.user_id FROM e s JOIN e c ON c.user_id = s.user_id
      WHERE s.lvl = 1 AND c.lvl = 2
        AND (c.ts > s.ts OR (c.ts = s.ts AND c.event_id > s.event_id))
        AND c.t - s.t <= {_WF_WINDOW_US}
    ),
    l3 AS (
      SELECT DISTINCT s.user_id FROM e s JOIN e c ON c.user_id = s.user_id
                                JOIN e p ON p.user_id = s.user_id
      WHERE s.lvl = 1 AND c.lvl = 2 AND p.lvl = 3
        AND (c.ts > s.ts OR (c.ts = s.ts AND c.event_id > s.event_id))
        AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        AND p.t - s.t <= {_WF_WINDOW_US}
    ),
    lev AS (
      SELECT base.user_id,
             CAST(CASE WHEN l3.user_id IS NOT NULL THEN 3
                       WHEN l2.user_id IS NOT NULL THEN 2
                       WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
                 AS funnel_level
      FROM base LEFT JOIN l1 USING (user_id) LEFT JOIN l2 USING (user_id)
                LEFT JOIN l3 USING (user_id)
    ),
    carried AS (
      SELECT DISTINCT e1.user_id FROM e e1, bnd
      WHERE e1.lvl = 1 AND e1.t <= boundary
      INTERSECT
      SELECT DISTINCT e2.user_id FROM e e2, bnd WHERE e2.t > boundary
    )
    SELECT funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_single_pass_match,
           CAST(COUNT(c.user_id) AS BIGINT) AS n_state_carried
    FROM lev LEFT JOIN carried c USING (user_id)
    GROUP BY 1
    """,
)
def streaming_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lvl = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    # one chain-event relation feeds the boundary scalar and
    # all three folds (sub-microsecond parts are zero in this corpus, so
    # the micros cast is value-preserving vs the oracle's epoch_us)
    chain = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
        "event_id",
        lvl.alias("lvl"),
    ).filter(F.col("lvl").isNotNull())
    bounds = chain.agg(F.min("t").alias("mn"), F.max("t").alias("mx")).select(
        F.expr("(mn + mx) DIV 2").alias("boundary")
    )
    c = chain.crossJoin(F.broadcast(bounds))
    e_struct = F.struct("t", "event_id", "lvl").alias("e")
    # phase 1: fold batch-1 events to the per-user state relation — the
    # batch analogue of the streaming GroupState store at the boundary
    st1 = (
        c.filter(F.col("t") <= F.col("boundary"))
        .select("user_id", e_struct)
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es1"))
        .select("user_id", F.expr(_wf_fold("es1")).alias("st"))
    )
    # phase 2: batch-2 arrays, folded FROM the carried state
    a2 = (
        c.filter(F.col("t") > F.col("boundary"))
        .select("user_id", e_struct)
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es2"))
    )
    users = ev.select("user_id").distinct()
    replayed = (
        users.join(st1, "user_id", "left")
        .join(a2, "user_id", "left")
        .select(
            "user_id",
            F.expr(
                f"""CASE
                  WHEN es2 IS NULL AND st IS NULL THEN 0
                  WHEN es2 IS NULL THEN {_wf_level('st')}
                  ELSE {_wf_level(_wf_fold('es2', f'coalesce(st, {_WF_INIT})'))}
                END"""
            ).cast("int").alias("funnel_level"),
            (
                F.col("st").isNotNull()
                & (F.expr("st[0]") >= 0)
                & F.col("es2").isNotNull()
            ).alias("carried"),
        )
    )
    # single-pass twin: the one-shot fold the replay must reproduce
    single = (
        chain.select("user_id", e_struct)
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select("user_id", F.expr(_wf_level(_wf_fold("es"))).alias("single_level"))
    )
    # merge hint: Catalyst cannot size the collect_list
    # aggregate behind `single` (user-cardinality — the estimate-blind
    # broadcast class the r9 100x audit fixed in the dedup family) and
    # plans a broadcast that is pure waste here anyway: both sides are
    # already hash-partitioned by user_id from their own aggregations,
    # so the sort-merge join reuses the existing exchanges and the plan
    # carries no user-cardinality broadcast at ANY corpus size
    joined = replayed.join(single.hint("merge"), "user_id", "left").select(
        "funnel_level",
        F.coalesce("single_level", F.lit(0)).alias("single_level"),
        "carried",
    )
    return joined.groupBy("funnel_level").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("single_level") == F.col("funnel_level"), 1).otherwise(0)
        ).cast("long").alias("n_single_pass_match"),
        F.sum(F.when(F.col("carried"), 1).otherwise(0)).cast("long").alias(
            "n_state_carried"
        ),
    )


# ---------------------------------------------------------------------------
# KMV set algebra (new r9): the sketch OPERATION a 100 TB audience /
# overlap dashboard runs — estimate the distinct-user overlap between
# two event cohorts from their KMV sketches alone, no exact distinct on
# the pair. The union sketch is just the k smallest hashes of the merged
# minima (KMV's defining mergeability — same one-pass aggregate, one
# extra scope), and the intersection falls out of inclusion-exclusion:
# |A∩B| ≈ est(A) + est(B) − est(A∪B). Exact counts ride along as audit
# columns (the kmv_distinct_sketch / ann_recall_audit convention: the
# approximation is accounted, not hidden). Everything is deterministic
# md5 order statistics, so the ESTIMATES are hash-verified, not just
# bounded.
#
# Scale shape: ONE scan of the two cohorts (the union scope duplicates
# rows before the distinct, not after), one k-minima pass per scope,
# 3-row sketch state; the exact audit is the only count_distinct and
# drops out of the production form.
# ---------------------------------------------------------------------------
@query(
    "kmv_set_overlap",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase')
    ), tagged AS (
      SELECT event_type AS scope, user_id FROM ev
      UNION ALL SELECT 'union' AS scope, user_id FROM ev
    ), est AS ({o_kmv_distinct_estimate('tagged', 'scope', 'user_id', k=64)}),
    ex AS (
      SELECT scope, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exd
      FROM tagged GROUP BY scope
    ), j AS (SELECT * FROM est JOIN ex USING (scope)),
    piv AS (
      SELECT MIN(CASE WHEN scope = 'click' THEN kmv_estimate END) AS est_click,
             MIN(CASE WHEN scope = 'purchase' THEN kmv_estimate END) AS est_purchase,
             MIN(CASE WHEN scope = 'union' THEN kmv_estimate END) AS est_union,
             MIN(CASE WHEN scope = 'click' THEN exd END) AS exact_click,
             MIN(CASE WHEN scope = 'purchase' THEN exd END) AS exact_purchase,
             MIN(CASE WHEN scope = 'union' THEN exd END) AS exact_union
      FROM j
    )
    SELECT est_click, est_purchase, est_union,
           GREATEST(CAST(0 AS DOUBLE),
                    est_click + est_purchase - est_union) AS est_intersection,
           exact_click, exact_purchase, exact_union,
           exact_click + exact_purchase - exact_union AS exact_intersection
    FROM piv
    """,
)
def kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", "user_id")
    )
    tagged = ev.select(F.col("event_type").alias("scope"), "user_id").unionByName(
        ev.select(F.lit("union").alias("scope"), "user_id")
    )
    est = kmv_distinct_estimate(tagged, group="scope", element="user_id", k=64)
    exact = tagged.groupBy("scope").agg(F.count_distinct("user_id").alias("exd"))

    def pick(col: str, s: str):
        return F.min(F.when(F.col("scope") == s, F.col(col)))

    piv = (
        est.join(exact, "scope")
        .groupBy()
        .agg(
            pick("kmv_estimate", "click").alias("est_click"),
            pick("kmv_estimate", "purchase").alias("est_purchase"),
            pick("kmv_estimate", "union").alias("est_union"),
            pick("exd", "click").alias("exact_click"),
            pick("exd", "purchase").alias("exact_purchase"),
            pick("exd", "union").alias("exact_union"),
        )
    )
    return piv.select(
        "est_click",
        "est_purchase",
        "est_union",
        F.greatest(
            F.lit(0.0),
            F.col("est_click") + F.col("est_purchase") - F.col("est_union"),
        ).alias("est_intersection"),
        "exact_click",
        "exact_purchase",
        "exact_union",
        (F.col("exact_click") + F.col("exact_purchase") - F.col("exact_union")).alias(
            "exact_intersection"
        ),
    )


# ---------------------------------------------------------------------------
# sequenceMatch (new r9): the other ClickHouse event-chain primitive —
# pattern matching over each user's time-ordered event sequence, no
# window bound. Every event type here has a distinct initial (signup,
# click, purchase, view, error → s/c/p/v/e), so the per-user sequence
# collapses to a STRING in (ts, event_id) order and patterns become
# plain regex: '(?1).*(?2).*(?3)'-style ordered subsequence = 's.*e.*p'
# (a signup, later an error, later a purchase), and full-stream
# ADJACENCY (stricter than ClickHouse's filtered-stream adjacency,
# documented) = the literal substring 'se'. One aggregate builds the
# string; the match is a scalar regex per user — no joins, no windows.
#
# Scale shape: one user-keyed exchange; per-user state is the event
# string (bounded by per-user activity, the same contract as the other
# per-user arrays); output is one row of counts.
# ---------------------------------------------------------------------------
@query(
    "sequence_match_chain",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (WHERE regexp_matches(seq, 's.*e.*p'))
                AS BIGINT) AS n_signup_error_purchase,
           CAST(COUNT(*) FILTER (WHERE seq LIKE '%se%') AS BIGINT)
               AS n_adjacent_signup_error
    FROM seqs
    """,
)
def sequence_match_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
                "event_id",
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["i"]
                ),
            ).alias("seq")
        )
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("seq").rlike("s.*e.*p"), 1)).alias(
            "n_signup_error_purchase"
        ),
        F.count(F.when(F.col("seq").contains("se"), 1)).alias(
            "n_adjacent_signup_error"
        ),
    )


# ---------------------------------------------------------------------------
# sequenceCount (new r10): ClickHouse's counting twin of sequenceMatch —
# sequenceCount(pattern)(ts, cond...) returns, per user, how many
# NON-OVERLAPPING occurrences of the chain the event stream contains
# (ClickHouse scans left to right and restarts the search after the end
# of each match). On the string-encoded sequence that is exactly the
# non-overlapping count of the LAZY regex 's.*?e.*?p': leftmost start,
# earliest possible end, resume after — both Java regex (Spark) and RE2
# (DuckDB) implement the identical leftmost-lazy scan, so the counts are
# engine-portable. Same single user-keyed exchange + scalar regex as
# sequence_match_chain; the only new machinery is regexp_count, i.e.
# still no joins and no windows.
#
# Scale shape: identical to sequence_match_chain — one exchange,
# per-user state is the event string, output is one row of counts.
# ---------------------------------------------------------------------------
@query(
    "sequence_count_chain",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
      FROM events GROUP BY user_id
    ), counts AS (
      SELECT user_id,
             len(regexp_extract_all(seq, 's.*?e.*?p')) AS n_sep,
             len(regexp_extract_all(seq, 'se')) AS n_se
      FROM seqs
    )
    SELECT CAST(SUM(n_sep) AS BIGINT) AS total_sep_chains,
           CAST(COUNT(*) FILTER (WHERE n_sep >= 2) AS BIGINT)
               AS users_repeat_sep,
           CAST(MAX(n_sep) AS BIGINT) AS max_sep_per_user,
           CAST(SUM(n_se) AS BIGINT) AS total_adjacent_se
    FROM counts
    """,
)
def sequence_count_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
                "event_id",
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["i"]
                ),
            ).alias("seq")
        )
    )
    counts = seqs.select(
        F.regexp_count(F.col("seq"), F.lit("s.*?e.*?p")).alias("n_sep"),
        F.regexp_count(F.col("seq"), F.lit("se")).alias("n_se"),
    )
    return counts.agg(
        F.sum("n_sep").cast("long").alias("total_sep_chains"),
        F.count(F.when(F.col("n_sep") >= 2, 1)).alias("users_repeat_sep"),
        F.max("n_sep").cast("long").alias("max_sep_per_user"),
        F.sum("n_se").cast("long").alias("total_adjacent_se"),
    )


# ---------------------------------------------------------------------------
# windowFunnel strict_order (new r10): ClickHouse's strict-order mode —
# an intervening chain event BREAKS the chain instead of being skipped
# (windowFunnel(w, 'strict_order'): "don't allow interventions of other
# events ... it stops finding A->B->C at the D"). The engine form is
# the same one-exchange fold as window_funnel_steps but the accumulator
# is (chain_start_t, current_consecutive_depth, best_depth): a level-1
# event always restarts the chain, a level that is EXACTLY depth+1
# within the window extends it, anything else resets depth to 0 — so
# only strictly consecutive signup->click->purchase runs count. Scoped
# to chain-type events (the documented delta vs ClickHouse, which
# breaks on ANY event type; same scoping choice as
# sequence_match_chain's adjacency column).
#
# The DuckDB oracle is an independent construction again: strict
# consecutive runs are visible to LEAD — a user reaches depth 3 iff
# some chain event has lvl=1, the NEXT chain event lvl=2, the one after
# lvl=3, with the span inside the window — so the oracle is a window
# query with no fold and no state, cross-checking the DP.
#
# Scale shape: identical to window_funnel_steps — one user-keyed
# exchange, 3-value state per user, ≤4-row histogram output.
# ---------------------------------------------------------------------------
@query(
    "window_funnel_strict",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, epoch_us(ts) AS t,
             CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 END AS lvl
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    seq AS (
      SELECT user_id, lvl, t,
             LEAD(lvl, 1) OVER w AS nl1, LEAD(lvl, 2) OVER w AS nl2,
             LEAD(t, 1) OVER w AS nt1, LEAD(t, 2) OVER w AS nt2
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    depth AS (
      SELECT user_id,
             MAX(CASE WHEN lvl = 1 AND nl1 = 2 AND nl2 = 3
                           AND nt2 - t <= {_WF_WINDOW_US} THEN 3
                      WHEN lvl = 1 AND nl1 = 2
                           AND nt1 - t <= {_WF_WINDOW_US} THEN 2
                      WHEN lvl = 1 THEN 1 ELSE 0 END) AS funnel_level
      FROM seq GROUP BY user_id
    ),
    base AS (SELECT DISTINCT user_id FROM events)
    SELECT CAST(COALESCE(d.funnel_level, 0) AS INT) AS funnel_level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM base LEFT JOIN depth d USING (user_id)
    GROUP BY 1
    """,
)
def window_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lvl = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    steps = ev.select(
        "user_id",
        # conditional struct as in window_funnel_steps: one scan, every
        # user gets a row, the DP array holds only chain-type events
        F.when(
            lvl.isNotNull(),
            F.struct(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t"),
                "event_id",
                lvl.alias("lvl"),
            ),
        ).alias("e"),
    )
    packed = steps.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("es")
    )
    # acc = (chain_start_t, consecutive_depth, best_depth); level 1
    # always restarts, depth+1 inside the window extends, anything else
    # is a strict-order interruption
    acc = F.expr(
        f"""
        aggregate(es,
          array(CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
          (acc, e) -> CASE
            WHEN e.lvl = 1
                 THEN array(e.t, CAST(1 AS BIGINT), greatest(acc[2], CAST(1 AS BIGINT)))
            WHEN e.lvl = acc[1] + 1 AND acc[1] >= 1
                 AND e.t - acc[0] <= {_WF_WINDOW_US}
                 THEN array(acc[0], acc[1] + 1, greatest(acc[2], acc[1] + 1))
            ELSE array(CAST(-1 AS BIGINT), CAST(0 AS BIGINT), acc[2]) END)
        """
    )
    per_user = packed.select("user_id", acc.alias("a")).select(
        "user_id", F.expr("CAST(a[2] AS INT)").alias("funnel_level")
    )
    return per_user.groupBy("funnel_level").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# retention (new r9): the third ClickHouse event-chain primitive —
# retention(cond1, ..., condN) computes per user the flag vector
# [c1, c1 AND c2, ..., c1 AND cN] (every later flag is gated on the
# FIRST condition: "of the users acquired in week 1, how many clicked
# in week 2 / purchased in week 3") and the dashboard sums the flags.
# Week boundaries derive from the corpus MIN date (not literals), so
# the query is stable under testdata regeneration. One scan → one
# per-user conditional-max aggregate → one 4-column sum: no joins, no
# windows, linear at any scale.
# ---------------------------------------------------------------------------
@query(
    "retention_weekly",
    oracle="""
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'signup'
                       AND CAST(ts AS DATE) < d0 + 7 THEN 1 ELSE 0 END) AS c1,
             MAX(CASE WHEN event_type = 'click'
                       AND CAST(ts AS DATE) >= d0 + 7
                       AND CAST(ts AS DATE) < d0 + 14 THEN 1 ELSE 0 END) AS c2,
             MAX(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= d0 + 14
                       AND CAST(ts AS DATE) < d0 + 21 THEN 1 ELSE 0 END) AS c3
      FROM events CROSS JOIN d0 GROUP BY user_id
    )
    SELECT CAST(SUM(c1) AS BIGINT) AS acquired_w1,
           CAST(SUM(c1 * c2) AS BIGINT) AS retained_w2,
           CAST(SUM(c1 * c3) AS BIGINT) AS retained_w3,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM flags
    """,
)
def retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    day = F.to_date("ts")

    def cond(etype: str, lo: int, hi: int):
        c = (F.col("event_type") == etype) & (day < F.date_add("d0", hi))
        if lo:
            c = c & (day >= F.date_add("d0", lo))
        return F.max(c.cast("int"))

    flags = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            cond("signup", 0, 7).alias("c1"),
            cond("click", 7, 14).alias("c2"),
            cond("purchase", 14, 21).alias("c3"),
        )
    )
    return flags.agg(
        F.sum("c1").alias("acquired_w1"),
        F.sum(F.col("c1") * F.col("c2")).alias("retained_w2"),
        F.sum(F.col("c1") * F.col("c3")).alias("retained_w3"),
        F.count(F.lit(1)).alias("n_users"),
    )
