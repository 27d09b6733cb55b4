"""Time-series window queries (SURVEY.md §2.5) mapped onto the events
table: entity = user_id, time axis = ts (tie-broken by event_id).

Each exercises the operator library in operators/timeseries.py and has a
DuckDB oracle. Scale shape: ONE shuffle on the entity key serves every
rolling column in a query (same window spec), exactly how the 100 TB
factor build batches 50 factors per partitioning axis.

Float determinism: rolling sums use the fixed-point integer trick
(order-independent); float-path statistics (stddev/corr/EMA) are rounded
to 6dp on both sides — cross-engine error is ~1e-10, far below the
rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..factors.panel import O_BARS, bars_table
from ..operators import timeseries as ts
from ..sources.catalog import load_table
from .registry import o_round6, query, round6

_W_SQL = "PARTITION BY user_id ORDER BY ts, event_id"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "k", F.regexp_extract("props", r"(\d+)", 1).cast("int")
    )


def _w():
    return ts.entity_window("user_id", "ts", "event_id")


def _cents(c: str = "value") -> F.Column:
    return F.round(F.col(c) * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# delay/delta + rolling sum/mean/min/max/stddev (alpha101_engine.py:17-45,
# 64-77). Exact integer window sums; sample stddev rounded 6dp.
# ---------------------------------------------------------------------------
@query(
    "rolling_basic_stats",
    oracle=f"""
    SELECT event_id, user_id,
           LAG(value, 3) OVER ({_W_SQL})        AS delay_3,
           value - LAG(value, 3) OVER ({_W_SQL}) AS delta_3,
           SUM(CAST(ROUND(value*100,0) AS BIGINT))
               OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)/100.0 AS sum_5,
           SUM(CAST(ROUND(value*100,0) AS BIGINT))
               OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)/100.0
             / COUNT(value) OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mean_5,
           MIN(value) OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS min_5,
           MAX(value) OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS max_5,
           ROUND(STDDEV_SAMP(value)
               OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS std_5
    FROM events
    """,
)
def rolling_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _w()
    frame5 = ts.rolling(w, 5)
    cnt5 = F.count("value").over(frame5)
    sum5 = F.sum(_cents()).over(frame5) / 100.0
    return ev.select(
        "event_id",
        "user_id",
        ts.delay("value", 3, w).alias("delay_3"),
        ts.delta("value", 3, w).alias("delta_3"),
        sum5.alias("sum_5"),
        (sum5 / cnt5).alias("mean_5"),
        ts.ts_min("value", 5, w).alias("min_5"),
        ts.ts_max("value", 5, w).alias("max_5"),
        F.round(ts.ts_stddev("value", 5, w), 6).alias("std_5"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation / covariance (alpha101_engine.py:27-35).
# ---------------------------------------------------------------------------
@query(
    "rolling_corr_cov",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(CORR(value, k)
               OVER ({_W_SQL} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS corr_20,
           ROUND(COVAR_SAMP(value, k)
               OVER ({_W_SQL} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS cov_20
    FROM (SELECT event_id, user_id, ts, value,
                 CAST(regexp_extract(props, '(\\d+)', 1) AS INT) AS k
          FROM events)
    """,
)
def rolling_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _w()
    return ev.select(
        "event_id",
        "user_id",
        F.round(ts.ts_corr("value", "k", 20, w), 6).alias("corr_20"),
        F.round(ts.ts_cov("value", "k", 20, w), 6).alias("cov_20"),
    )


# ---------------------------------------------------------------------------
# ts_rank / ts_argmax / ts_argmin / decay_linear — the collect_list +
# higher-order-function operators (alpha101_engine.py:47-62,79-84).
# Oracle re-derives them with DuckDB list lambdas over windowed list().
# ---------------------------------------------------------------------------
@query(
    "ts_rank_argmax_decay",
    oracle=f"""
    WITH framed AS (
        SELECT event_id, user_id, value,
               list(value) OVER ({_W_SQL} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_id, user_id,
           ROUND((len(list_filter(l, x -> x < value))
                  + len(list_filter(l, x -> x <= value)) + 1) / 2.0 / len(l), 6) AS ts_rank_10,
           CAST(len(l) - list_position(l, list_aggregate(l, 'max')) AS DOUBLE) AS ts_argmax_10,
           CAST(len(l) - list_position(l, list_aggregate(l, 'min')) AS DOUBLE) AS ts_argmin_10,
           ROUND(list_sum(list_transform(range(1, len(l)+1), i -> l[i] * i))
                 / (len(l) * (len(l)+1) / 2.0), 6) AS decay_10
    FROM framed
    """,
)
def ts_rank_argmax_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # malformed ticks (NULL value) are excluded from the series on BOTH
    # engines: Spark's collect_list DROPS NULLs while DuckDB's list()
    # keeps them, so a NULL inside the frame silently shifts every
    # list-derived stat (r13 NULL-saturated sweep). No-op on clean data.
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = _w()
    return ev.select(
        "event_id",
        "user_id",
        F.round(ts.ts_rank("value", 10, w), 6).alias("ts_rank_10"),
        ts.ts_argmax("value", 10, w).alias("ts_argmax_10"),
        ts.ts_argmin("value", 10, w).alias("ts_argmin_10"),
        F.round(ts.decay_linear("value", 10, w), 6).alias("decay_10"),
    )


# ---------------------------------------------------------------------------
# Cumulative ops: cumsum (Cumulative_IC, `pages/5_Alpha lab.py:108`) and
# cumprod equity curve via exp(sum(log)) (`pages/6_Sector rotation.py:154`),
# plus normalize-to-first (`pages/1_Market overview.py:81`).
# Both float outputs go through round6/o_round6, not ROUND: 9.51/19.2 - 1
# is -0.5046875 in shortest form, which Spark's ROUND takes half-up to
# -0.504688 while DuckDB's, working on the raw double
# (-504687.49999999994 after the scaling), gives -0.504687.
# ---------------------------------------------------------------------------
@query(
    "cumulative_ops",
    oracle=f"""
    SELECT event_id, user_id, cum_value,
           {o_round6('equity')} AS equity_curve,
           {o_round6('norm')} AS norm_to_first
    FROM (
        SELECT event_id, user_id,
               SUM(CAST(ROUND(value*100,0) AS BIGINT))
                   OVER ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS cum_value,
               EXP(SUM(LN(1 + value/10000))
                   OVER ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS equity,
               value / (FIRST_VALUE(value)
                   OVER ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - 1 AS norm
        FROM events
        WHERE value IS NOT NULL
    )
    """,
)
def cumulative_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-value ticks excluded on both engines: a NULL elected as the
    # series' FIRST_VALUE poisons norm_to_first for the whole entity,
    # and Spark/DuckDB disagree on which row that is once NULL ordering
    # enters (r13 NULL-saturated sweep). No-op on clean data.
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = _w()
    cum = ts.cumulative(w)
    # raw window outputs first, rounded by name (round6 references its
    # argument several times, which would plan the window tree again)
    raw = ev.select(
        "event_id",
        "user_id",
        (F.sum(_cents()).over(cum) / 100.0).alias("cum_value"),
        ts.cum_prod(1 + F.col("value") / 10000, w).alias("equity"),
        ts.normalize_to_first("value", w).alias("norm"),
    )
    return raw.select(
        "event_id",
        "user_id",
        "cum_value",
        round6("equity").alias("equity_curve"),
        round6("norm").alias("norm_to_first"),
    )


# ---------------------------------------------------------------------------
# Rolling product via the log trick (alpha101_engine.py:69-72): the
# equity-curve compounding primitive. DuckDB's native windowed product()
# cross-checks the exp(sum(log)) implementation.
# ---------------------------------------------------------------------------
@query(
    "rolling_product",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(product(1 + value/10000)
               OVER ({_W_SQL} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS growth_5
    FROM events
    """,
)
def rolling_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _w()
    return ev.select(
        "event_id",
        "user_id",
        F.round(ts.ts_product(1 + F.col("value") / 10000, 5, w), 6).alias("growth_5"),
    )


# ---------------------------------------------------------------------------
# Recursive EMA (MACD family, `basic factor_function.md:8-9`) — computed
# with applyInPandas per entity (the one honest pandas-UDF operator,
# SURVEY.md §7.3 risk 2). The oracle uses the closed-form weighted sum
# over the full history: ewm(span, adjust=False) ≡
# Σ_i w_i·x_i with w_i = α(1-α)^(n-i) for i>1 and (1-α)^(n-1) for i=1.
# ---------------------------------------------------------------------------
@query(
    "ema_recursive",
    oracle=f"""
    WITH framed AS (
        SELECT event_id, user_id, value,
               list(value) OVER ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_id, user_id,
           ROUND(list_sum(list_transform(range(1, len(l)+1),
                 i -> l[i] * (CASE WHEN i = 1 THEN power(1 - 2.0/13, len(l) - 1)
                              ELSE (2.0/13) * power(1 - 2.0/13, len(l) - i) END))), 6) AS ema_12
    FROM framed
    """,
)
def ema_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trim to the columns the EMA needs before applyInPandas — every
    # column crosses the Arrow boundary twice. NULL-value ticks are
    # excluded on both engines: pandas ewm skips NaN in-place (the NULL
    # occupies a row but not the recursion) while the oracle's closed
    # form weights it as a list slot (r13 NULL-saturated sweep).
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "ts", "value")
    )
    out = ts.with_ema_columns(ev, {"ema_12_raw": ("value", 12.0)}, "user_id", "ts", "event_id")
    return out.select(
        "event_id", "user_id", F.round("ema_12_raw", 6).alias("ema_12")
    )


# ---------------------------------------------------------------------------
# K-line window slice (`QuantDB.py:204-224`): ±N rows around a per-entity
# center row, day_offset + normalization to the center value.
# Center: each user's highest-value event (tie → earliest).
# ---------------------------------------------------------------------------
@query(
    "kline_window_slice",
    oracle=f"""
    WITH numbered AS (
        SELECT event_id, user_id, value,
               ROW_NUMBER() OVER ({_W_SQL}) AS rn
        FROM events
    ), center AS (
        SELECT user_id, rn AS center_rn, value AS center_val
        FROM (SELECT user_id, rn, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, rn) AS pick
              FROM numbered)
        WHERE pick = 1
    )
    SELECT n.event_id, n.user_id,
           n.rn - c.center_rn AS day_offset,
           ROUND(n.value / c.center_val, 6) AS norm_value
    FROM numbered n JOIN center c ON n.user_id = c.user_id
    WHERE n.rn - c.center_rn BETWEEN -5 AND 5
    """,
)
def kline_window_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = _w()
    numbered = ev.select("event_id", "user_id", "value", F.row_number().over(w).alias("rn"))
    pick_w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("rn"))
    center = (
        numbered.withColumn("pick", F.row_number().over(pick_w))
        .filter(F.col("pick") == 1)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("rn").alias("center_rn"),
            F.col("value").alias("center_val"),
        )
    )
    # center is one row per entity — unbounded in entity count — so no
    # forced broadcast; AQE broadcasts at runtime when it fits.
    return (
        numbered.join(center, numbered["user_id"] == center["c_user"])
        .withColumn("day_offset", F.col("rn") - F.col("center_rn"))
        .filter(F.col("day_offset").between(-5, 5))
        .select(
            "event_id",
            "user_id",
            "day_offset",
            F.round(F.col("value") / F.col("center_val"), 6).alias("norm_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization (idiomatic Spark extension; tick-stream capability): gap >
# 30 min starts a new session; emit per-user session counts + avg length.
# ---------------------------------------------------------------------------
@query(
    "sessionization",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER ({_W_SQL}) > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER ({_W_SQL}) IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id,
               SUM(new_session) OVER ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS session_cnt,
           CAST(COUNT(*) AS BIGINT) AS event_cnt
    FROM sessions
    GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = _w()
    prev_ts = F.lag("ts").over(w)
    # compare at microsecond precision — cast("long") truncates to seconds
    # and would disagree with the oracle's INTERVAL comparison on
    # fractional-second gaps
    # cast("timestamp") first: the driver's parquet may carry ts as
    # TIMESTAMP_NTZ, which unix_micros rejects; with the session TZ pinned
    # to UTC the cast is value-preserving for both timestamp flavors
    new_session = (
        prev_ts.isNull()
        | (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev_ts.cast("timestamp"))
            > 1_800_000_000
        )
    ).cast("int")
    sessions = ev.withColumn(
        "session_id", F.sum(new_session).over(ts.cumulative(w))
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("session_cnt"),
        F.count(F.lit(1)).alias("event_cnt"),
    )


# ---------------------------------------------------------------------------
# Native session windows (F.session_window), batch form of the streaming
# operator in streaming/session_windows.py — one row per (user, session)
# with span and exact fixed-point totals. The oracle recomputes sessions
# with the islands technique; a session extends while consecutive gaps
# are STRICTLY under 30 minutes (Spark merges windows [ts, ts+gap) on
# overlap, so a gap of exactly 30m starts a new session) and
# session_end = last_ts + gap.
# ---------------------------------------------------------------------------
@query(
    "session_window_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), s AS (
        SELECT user_id, ts, value,
               -- event_id tiebreak must match the LAG window above: with two
               -- events at an identical boundary ts, an untied ORDER BY ts
               -- could sort the new_s=1 row after its tie and hand the tie
               -- to the previous session (r6 ADVICE)
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value*100,0) AS BIGINT))/100.0 AS value_total
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.session_windows import session_stats

    return session_stats(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Event-path trigram mining (new r7): the most common 3-step event-type
# sequences across per-(user, day) journeys — the "user path" analysis
# a product funnel team runs beyond single-step funnels. Paths are
# ordered by (ts, event_id) inside each journey (deterministic ties),
# trigram strings like 'click>view>purchase' counted globally, top 20
# by (count desc, trigram).
#
# Scale shape: the per-journey event list is bounded by events/user/day
# (never corpus-sized); the trigram explode is linear in events; the
# head is TakeOrderedAndProject. The path array is persisted before the
# explode (Generate re-collapse trap).
# ---------------------------------------------------------------------------
@query(
    "event_path_trigrams",
    oracle="""
    WITH j AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               list(event_type ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), tri AS (
        SELECT path[k + 1] || '>' || path[k + 2] || '>' || path[k + 3] AS trigram
        FROM j, UNNEST(range(0, GREATEST(0, len(path) - 2))) t(k)
        WHERE len(path) >= 3
    )
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import managed_persist

    ev = _events(spark, sf_dir)
    j = managed_persist(
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ).alias("path")
        )
        .filter(F.size("path") >= 3)
    )
    tri = j.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(path) - 3),"
                " i -> concat(path[i], '>', path[i+1], '>', path[i+2]))"
            )
        ).alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Calendar-spine forward fill (new r8): the reindex().ffill() every
# pandas analytics layer (the reference included) performs before
# aligning panels — rebuild the full code x trading-date spine, carry
# the last observation forward across each entity's missing days, and
# report the filled gaps with their staleness. Output = only the rows
# that WERE missing (the fill delta), so the result is gap-sized, not
# panel-sized.
#
# Scale shape: the spine is |codes| x |days| (the panel's own
# cardinality, built from two bounded distinct sets); the fill is ONE
# ignorenulls-last window pass over the code-keyed sort — the same
# mechanism the as-of join uses, surfaced as a standalone operator.
# ---------------------------------------------------------------------------
@query(
    "calendar_ffill_panel",
    oracle=f"""
    WITH {O_BARS},
    dates AS (SELECT DISTINCT d FROM bars),
    codes AS (SELECT DISTINCT code FROM bars),
    spine AS (SELECT code, d FROM codes CROSS JOIN dates),
    joined AS (
        SELECT s.code, s.d, b.close,
               CASE WHEN b.close IS NOT NULL THEN s.d END AS obs_d
        FROM spine s LEFT JOIN bars b ON b.code = s.code AND b.d = s.d
    ), filled AS (
        SELECT code, d, close,
               LAST_VALUE(close IGNORE NULLS) OVER
                   (PARTITION BY code ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fclose,
               LAST_VALUE(obs_d IGNORE NULLS) OVER
                   (PARTITION BY code ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_obs
        FROM joined
    )
    SELECT code, d, fclose AS filled_close,
           CAST(datediff('day', last_obs, d) AS BIGINT) AS staleness_days
    FROM filled
    WHERE close IS NULL AND fclose IS NOT NULL
    """,
)
def calendar_ffill_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = bars_table(spark, sf_dir).select("code", "d", "close")
    dates = bars.select("d").distinct()
    codes = bars.select("code").distinct()
    spine = codes.crossJoin(dates)
    joined = spine.join(bars, ["code", "d"], "left").withColumn(
        "obs_d", F.when(F.col("close").isNotNull(), F.col("d"))
    )
    w = (
        Window.partitionBy("code")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = joined.select(
        "code",
        "d",
        "close",
        F.last("close", ignorenulls=True).over(w).alias("fclose"),
        F.last("obs_d", ignorenulls=True).over(w).alias("last_obs"),
    )
    return filled.filter(
        F.col("close").isNull() & F.col("fclose").isNotNull()
    ).select(
        "code",
        "d",
        F.col("fclose").alias("filled_close"),
        F.datediff("d", "last_obs").cast("long").alias("staleness_days"),
    )
